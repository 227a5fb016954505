package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SparkTestSession

/** The [[FileSink]] commit protocol, pinned through each of the five
  * writers that use it: orphan temps stay invisible and get swept, a body
  * that dies mid-write leaves nothing, and a rename that loses to an
  * already committed final drops its temp quietly. */
class FileSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  /** One writer under test: its temp marker, the final file its single
    * write task commits, a frame of ten rows carrying `v` (a long column
    * over `id`) in a data position, and its writer and good-row reader. */
  private case class Format(name: String, marker: String, finalName: String,
      frame: Column => DataFrame, poison: () => DataFrame,
      write: (DataFrame, String) => Unit, goodRows: String => Long)

  /** ten rows in ONE partition, so each part writer runs one task */
  private def base: DataFrame = spark.range(0, 10, 1, 1).toDF("id")

  private val boom = udf { (id: Long) =>
    if (id == 5) throw new IllegalStateException("boom at row 5")
    id
  }

  private val schema = StructType.fromDDL("id long, v long")
  private def idV(v: Column): DataFrame = base.select(col("id"), v.as("v"))
  private def good(df: DataFrame): Long = df.filter(col("error").isNull).count()

  private lazy val formats = Seq(
    Format("avro", ".avro.tmp-", "part-00000.avro", idV,
      () => idV(boom(col("id"))), AvroFiles.write(_, _),
      d => good(AvroFiles.read(spark, d, schema))),
    Format("proto", ".pb.tmp-", "part-00000.pb", idV,
      () => idV(boom(col("id"))), ProtoFiles.write(_, _),
      d => good(ProtoFiles.read(spark, d, schema))),
    Format("jsonl", ".jzt-", "part-00000.jsonl.zst", idV,
      () => idV(boom(col("id"))), JsonlZstd.write(_, _),
      d => good(JsonlZstd.read(spark, d, schema))),
    Format("warc", ".wtmp-", "part-00000.warc.gz", warcFrame,
      () => warcFrame(boom(col("id"))), WarcFiles.write(_, _),
      d => good(WarcFiles.read(spark, d))),
    // a null member payload fails the shard's body inside its commit
    Format("tar", ".tar.tmp-", "s0.tar", tarFrame,
      () => tarFrame(when(col("id") =!= 5, col("id"))),
      TarShards.writeShards(_, "shard", "member", "bytes", _),
      d => good(TarShards.members(spark, d))))

  private def warcFrame(v: Column): DataFrame = base.select(
    concat(lit("http://example.com/"), col("id")).as("url"),
    lit("response").as("rtype"), lit("2024-01-01T00:00:00Z").as("date"),
    v.cast("string").cast("binary").as("payload"))

  private def tarFrame(v: Column): DataFrame = base.select(
    lit("s0").as("shard"), concat(col("id"), lit(".txt")).as("member"),
    v.cast("string").cast("binary").as("bytes"))

  private def freshDir(name: String): File = {
    val d = new File(SparkTestSession.tmpPath(s"file_sink/$name"))
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d
  }

  private def names(d: File): Seq[String] =
    Option(d.listFiles).map(_.toSeq.map(_.getName)).getOrElse(Nil)

  for (f <- formats) {
    test(s"${f.name}: an orphan temp is not read back, the next write sweeps it") {
      val d = freshDir(s"orphan_${f.name}")
      f.write(f.frame(col("id")), d.getPath)
      assert(f.goodRows(d.getPath) === 10)
      // a dead attempt's temp: a complete copy of a committed file, so
      // the reader would double the rows if its glob matched the temp
      val orphan = new File(d, s"part-00099${f.marker}dead")
      Files.copy(new File(d, f.finalName).toPath, orphan.toPath)
      assert(f.goodRows(d.getPath) === 10)
      f.write(f.frame(col("id")), d.getPath)
      assert(!names(d).exists(_.contains(f.marker)),
        s"orphan temp not swept: ${names(d)}")
      assert(f.goodRows(d.getPath) === 10)
    }

    test(s"${f.name}: a body that throws mid-write leaves no final and no temp") {
      val d = freshDir(s"throw_${f.name}")
      intercept[Exception](f.write(f.poison(), d.getPath))
      assert(names(d).isEmpty, s"left behind: ${names(d)}")
    }

    test(s"${f.name}: a rename that finds the final present drops its temp") {
      val d = freshDir(s"lost_${f.name}")
      val dir = d.getPath
      val finalName = f.finalName
      // a sibling attempt commits the same final while this one writes
      val sibling = udf { (id: Long) =>
        if (id == 0)
          Files.write(new File(dir, finalName).toPath, "sibling".getBytes)
        id
      }
      val conf = spark.sparkContext.hadoopConfiguration
      conf.set("fs.noclobber.impl", classOf[NoClobberFileSystem].getName)
      try f.write(f.frame(sibling(col("id"))), s"noclobber://$dir")
      finally conf.unset("fs.noclobber.impl")
      assert(names(d) === Seq(f.finalName))
      assert(new String(Files.readAllBytes(new File(d, f.finalName).toPath))
        === "sibling")
    }
  }
}

/** The local file system with the rename of HDFS and object stores: a
  * rename onto an existing file fails instead of replacing it. */
class NoClobberFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("noclobber:///")
  override def getScheme: String = "noclobber"
  override def rename(src: Path, dst: Path): Boolean =
    !exists(dst) && super.rename(src, dst)
}
