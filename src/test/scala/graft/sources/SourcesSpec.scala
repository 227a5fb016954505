package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** CSV/JSON round-trips with explicit schemas. */
class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("tar shards: ustar walk, webdataset sample grouping, quarantine") {
    // hand-rolled POSIX ustar bytes — real headers, real checksums
    def tarOf(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      entries.foreach { case (name, data) =>
        val h = new Array[Byte](512)
        def put(s: String, off: Int): Unit =
          s.getBytes("US-ASCII").zipWithIndex.foreach {
            case (b, i) => h(off + i) = b
          }
        put(name, 0)
        put("0000644", 100); put("0000000", 108); put("0000000", 116)
        put(f"${data.length}%011o", 124)
        put("00000000000", 136)
        (148 until 156).foreach(i => h(i) = ' '.toByte)
        h(156) = '0'.toByte
        put("ustar", 257)
        val sum = h.map(_ & 0xff).sum
        put(f"$sum%06o", 148); h(154) = 0; h(155) = ' '.toByte
        bos.write(h); bos.write(data)
        bos.write(new Array[Byte]((512 - data.length % 512) % 512))
      }
      bos.write(new Array[Byte](1024))
      bos.toByteArray
    }
    val srcDir = new java.io.File(SparkTestSession.tmpPath("tar_src"))
    if (srcDir.exists()) srcDir.listFiles().foreach(_.delete())
    srcDir.mkdirs()
    def write(name: String, bytes: Array[Byte]): Unit = {
      val f = new java.io.FileOutputStream(new java.io.File(srcDir, name))
      try f.write(bytes) finally f.close()
    }
    write("shard-000.tar", tarOf(Seq(
      "0001.txt" -> "a caption".getBytes,
      "0001.json" -> """{"w":8}""".getBytes,
      "0002.txt" -> "other".getBytes)))
    write("shard-001.tar", tarOf(Seq(
      "0003.txt" -> Array.fill(600)('x'.toByte)))) // spans two data blocks
    write("shard-bad.tar", Array.fill(1024)(7.toByte)) // garbage headers

    val mem = TarShards.members(spark, srcDir.toString)
    val good = mem.filter(col("error").isNull).collect()
      .map(r => (r.getString(1), new String(r.getAs[Array[Byte]]("bytes"))))
      .toMap
    assert(good == Map("0001.txt" -> "a caption", "0001.json" -> """{"w":8}""",
      "0002.txt" -> "other", "0003.txt" -> "x" * 600))
    val bad = mem.filter(col("error").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getString(0).contains("shard-bad"),
      "corrupt shard should quarantine, not fail")

    val sampRows = TarShards.samples(mem).collect()
    val samp = sampRows.filter(!_.isNullAt(1))
      .map(r => r.getString(1) ->
        (r.getLong(3), r.getMap[String, Array[Byte]](2).keys.toSet))
      .toMap
    assert(samp("0001") == (2L, Set("txt", "json")))
    assert(samp("0002") == (1L, Set("txt")))
    assert(samp("0003") == (1L, Set("txt")))
    // the corrupt shard's quarantine row passes through the grouping
    // (null key/components, zero components) instead of vanishing
    val q = sampRows.filter(_.isNullAt(1))
    assert(q.length == 1 && q.head.getString(0).contains("shard-bad") &&
      q.head.getLong(3) == 0L,
      "quarantine row must survive sample grouping")
  }

  test("tar: ustar prefix honored only under the POSIX magic — old-GNU " +
      "atime/ctime bytes at 345 must not corrupt member names") {
    // one 512-byte header + empty file, with controllable magic/version
    // and bytes at the prefix offset (345)
    def tarWith(name: String, magic: String, version: String,
        at345: String): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(s: String, off: Int): Unit =
        s.getBytes("US-ASCII").zipWithIndex.foreach {
          case (b, i) => h(off + i) = b
        }
      put(name, 0)
      put("0000644", 100); put("0000000", 108); put("0000000", 116)
      put("00000000000", 124); put("00000000000", 136)
      (148 until 156).foreach(i => h(i) = ' '.toByte)
      h(156) = '0'.toByte
      put(magic, 257); put(version, 263)
      put(at345, 345)
      val sum = h.map(_ & 0xff).sum
      put(f"$sum%06o", 148); h(154) = 0; h(155) = ' '.toByte
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(h); bos.write(new Array[Byte](1024))
      bos.toByteArray
    }
    val srcDir = new java.io.File(SparkTestSession.tmpPath("tar_magic"))
    if (srcDir.exists()) srcDir.listFiles().foreach(_.delete())
    srcDir.mkdirs()
    def write(fn: String, b: Array[Byte]): Unit = {
      val f = new java.io.FileOutputStream(new java.io.File(srcDir, fn))
      try f.write(b) finally f.close()
    }
    // old-GNU format: magic "ustar  " (spaces, no version), octal atime
    // where POSIX puts the prefix — the name must stay "a.txt"
    write("gnu.tar", tarWith("a.txt", "ustar ", " ", "14200000000"))
    // POSIX ustar: magic + "00" version, a real path prefix
    write("posix.tar", tarWith("b.txt", "ustar", "00", "deep/dir"))
    val got = TarShards.members(spark, srcDir.toString)
      .filter(col("error").isNull).collect()
      .map(r => (r.getString(0).split("/").last, r.getString(1))).toMap
    assert(got("gnu.tar") == "a.txt",
      s"old-GNU atime bytes misread as a path prefix: ${got("gnu.tar")}")
    assert(got("posix.tar") == "deep/dir/b.txt",
      s"POSIX prefix must still join: ${got("posix.tar")}")
  }

  test("writeShards sinks through the Hadoop FS API (explicit file: URI)") {
    import spark.implicits._
    // an explicit scheme-qualified URI proves the writer resolves the
    // Hadoop FileSystem from the path (the cluster contract: hdfs://,
    // s3a://, ... work the same way), not java.io on the executor
    val outUri = "file://" + SparkTestSession.tmpPath("tar_hfs")
    val df = Seq(
      ("s0", "0001.txt", "alpha".getBytes),
      ("s0", "0002.txt", "beta".getBytes),
      ("s1", "0003.txt", Array.fill(700)('y'.toByte))
    ).toDF("shard", "member", "bytes")
    TarShards.writeShards(df, "shard", "member", "bytes", outUri)
    // the shards landed where the Hadoop file: FS put them
    // (the local Hadoop FS also leaves .crc sidecars — ChecksumFileSystem
    // behavior, not ours — so only the .tar payloads are asserted)
    val local = new java.io.File(SparkTestSession.tmpPath("tar_hfs"))
    def tars() = local.listFiles().map(_.getName).filter(_.endsWith(".tar")).toSet
    assert(tars() == Set("s0.tar", "s1.tar"))
    // and walk back byte-identically
    val back = TarShards.members(spark, outUri)
      .filter(col("error").isNull).collect()
      .map(r => r.getString(1) -> new String(r.getAs[Array[Byte]]("bytes")))
      .toMap
    assert(back == Map("0001.txt" -> "alpha", "0002.txt" -> "beta",
      "0003.txt" -> "y" * 700))
    // a re-write over existing shards replaces them (the pre-job sweep)
    TarShards.writeShards(df.filter($"shard" === "s0"), "shard", "member",
      "bytes", outUri)
    assert(tars() == Set("s0.tar"),
      "stale shards from the previous write must be cleaned")
  }

  test("csv round-trip distinguishes NULL from empty string and survives " +
      "embedded newlines") {
    import spark.implicits._
    val orig = Seq(
      (1L, "plain"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "line one\nline two"), (5L, "comma, quote \" mix")
    ).toDF("id", "s")
    val p = SparkTestSession.tmpPath("src_test/null_empty_csv")
    Sources.writeCsv(orig, p)
    val back = Sources.csv(spark, p, orig.schema)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(back(1L) == "plain")
    assert(back(2L) == "", "empty string silently became " + back(2L))
    assert(back(3L) == null, "NULL silently became '" + back(3L) + "'")
    assert(back(4L) == "line one\nline two")
    assert(back(5L) == "comma, quote \" mix")
  }

  test("tar: duplicate (sample, ext) members collapse to one survivor " +
      "instead of a DUPLICATE_MAP_KEY job failure; bad member names are " +
      "rejected at write, never mangled") {
    import spark.implicits._
    // two members whose basenames collide on (key, ext) in one shard —
    // legal tar (re-packed shards override earlier entries)
    val mem = Seq(
      ("s.tar", "0001.txt", "old".getBytes, null.asInstanceOf[String]),
      ("s.tar", "0001.txt", "new".getBytes, null.asInstanceOf[String]),
      ("s.tar", "0001.json", "{}".getBytes, null.asInstanceOf[String])
    ).toDF("shard", "member", "bytes", "error")
    val samp = TarShards.samples(mem).collect()
    assert(samp.length == 1 && samp.head.getLong(3) == 2L)
    val comps = samp.head.getMap[String, Array[Byte]](2)
    // deterministic survivor: max by (member, bytes) -> "old" < "new"
    assert(new String(comps("txt")) == "old" ||
      new String(comps("txt")) == "new") // deterministic either way:
    val again = TarShards.samples(mem).collect().head.getMap[String, Array[Byte]](2)
    assert(new String(again("txt")) == new String(comps("txt")))
    // non-ASCII and null member names fail fast with a clear message
    val badName = Seq(("s0", "naïve.txt", "x".getBytes))
      .toDF("shard", "member", "bytes")
    val e = intercept[org.apache.spark.SparkException] {
      TarShards.writeShards(badName, "shard", "member", "bytes",
        SparkTestSession.tmpPath("src_test/tar_bad"))
    }
    assert(e.getMessage.contains("ASCII") ||
      Option(e.getCause).exists(_.getMessage.contains("ASCII")))
  }

  test("csv round-trip preserves rows and declared types") {
    val orig = spark.read.parquet(s"$dir/nation.parquet")
    Sources.writeCsv(orig, SparkTestSession.tmpPath("src_test/nation_csv"))
    val back = Sources.csv(spark, SparkTestSession.tmpPath("src_test/nation_csv"), orig.schema)
    assert(back.schema == orig.schema)
    assert(sortedRows(back) == sortedRows(orig))
  }

  test("json round-trip preserves rows and declared types") {
    val orig = spark.read.parquet(s"$dir/supplier.parquet")
    Sources.writeJson(orig, SparkTestSession.tmpPath("src_test/supplier_json"))
    val back = Sources.json(spark, SparkTestSession.tmpPath("src_test/supplier_json"), orig.schema)
    assert(back.schema == orig.schema)
    assert(sortedRows(back) == sortedRows(orig))
  }

  test("csv round-trip preserves padded strings; header mismatch fails fast") {
    import spark.implicits._
    val df = Seq((1L, "  padded  "), (2L, "x")).toDF("id", "s")
    Sources.writeCsv(df, SparkTestSession.tmpPath("src_test/padded_csv"))
    val back = Sources.csv(spark, SparkTestSession.tmpPath("src_test/padded_csv"), df.schema)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("  padded  ", "x"), "writer trimmed padded strings")
    // a schema whose names don't match the file header must fail loudly,
    // not silently mismap columns by position
    val wrong = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("other", org.apache.spark.sql.types.StringType)))
    intercept[Exception] {
      Sources.csv(spark, SparkTestSession.tmpPath("src_test/padded_csv"), wrong).collect()
    }
  }

  test("a csv-sourced param table drives the TaskGraph like any DataFrame") {
    val orig = spark.read.parquet(s"$dir/region.parquet")
    Sources.writeCsv(orig, SparkTestSession.tmpPath("src_test/region_csv"))
    val csv = Sources.csv(spark, SparkTestSession.tmpPath("src_test/region_csv"), orig.schema)
    val g = graft.core.TaskGraph.chain("a", "b")
      .mapFrame(csv, Map("a" -> "r_name"),
        indexCol = Some("r_regionkey"), dimName = "rk")
      .reduce(key = "b", name = "n", attrs = Map("func" -> "count"))
    assert(g.result("n").collect()(0).getAs[Long]("n") == orig.count())
  }

  test("schema evolution: mergeSchema NULL-fills missing columns and " +
      "surfaces the generation directory key") {
    import spark.implicits._
    val rootPath = java.nio.file.Files
      .createTempDirectory("graft_schema_evo")
    val root = rootPath.toString
    try {
      Seq((1L, "a")).toDF("id", "v1col")
        .write.mode("overwrite").parquet(s"$root/gen=1")
      Seq((2L, "b", "extra")).toDF("id", "v1col", "v2col")
        .write.mode("overwrite").parquet(s"$root/gen=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(root)
      assert(merged.columns.toSet == Set("id", "v1col", "v2col", "gen"),
        s"merged schema wrong: ${merged.columns.mkString(",")}")
      // by NAME: mergeSchema's column ORDER is not contractual
      val byId = merged.collect()
        .map(r => r.getAs[Long]("id") ->
          (Option(r.getAs[String]("v2col")), r.getAs[Int]("gen"))).toMap
      assert(byId(1L) == ((None, 1)), "gen-1 row must NULL-fill v2col")
      assert(byId(2L) == ((Some("extra"), 2)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(rootPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("avro round-trip: every supported type survives, NULLs stay NULL, " +
      "by-name evolution reads missing fields as NULL, corrupt containers " +
      "quarantine instead of failing the task") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val out = SparkTestSession.tmpPath("avro_src_spec")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val df = Seq(
      (1L, Some("alpha"), 1.5d, true, Some(Array[Byte](1, 2, 3)), 7),
      (2L, None, -0.25d, false, None, -7),
      (3L, Some(""), 0.0d, true, Some(Array.emptyByteArray), 0)
    ).toDF("id", "name", "score", "flag", "blob", "rank")
    AvroFiles.write(df, out)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("flag", BooleanType),
      StructField("blob", BinaryType), StructField("rank", IntegerType)))
    val back = AvroFiles.read(spark, out, schema)
    assert(back.filter(col("error").isNotNull).count() == 0)
    val rows = back.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha" &&
      rows(0).getDouble(2) == 1.5 && rows(0).getBoolean(3) &&
      rows(0).getAs[Array[Byte]](4).toSeq == Seq[Byte](1, 2, 3) &&
      rows(0).getInt(5) == 7)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(4),
      "NULLs must survive the union(null, T) round-trip")
    assert(rows(2).getString(1) == "" &&
      rows(2).getAs[Array[Byte]](4).isEmpty,
      "empty string / empty bytes are distinct from NULL")
    // by-name evolution: read with an extra column (NULL-filled) and a
    // widened long for the int field
    val evolved = StructType(Seq(
      StructField("id", LongType), StructField("rank", LongType),
      StructField("added_later", StringType)))
    val ev = AvroFiles.read(spark, out, evolved).orderBy("id").collect()
    assert(ev.forall(_.isNullAt(2)), "missing field must read NULL")
    assert(ev.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 7L), (2L, -7L), (3L, 0L)), "int must widen to long by name")
    // quarantine: a corrupt container yields one error row, good
    // containers in the same directory still read
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "corrupt.avro"),
      "Obj\u0001not really avro".getBytes("ISO-8859-1"))
    val mixed = AvroFiles.read(spark, out, schema)
    assert(mixed.filter(col("error").isNotNull).count() == 1,
      "corrupt container must quarantine exactly once")
    assert(mixed.filter(col("error").isNull).count() == 3,
      "good containers must still read next to a corrupt one")
    // unsupported column types fail fast at WRITE time, driver-side
    // (arrays/structs/string-keyed maps ARE supported since r16 — a
    // non-string map key is still outside the Avro map model)
    val bad = Seq((1L, Map(2 -> 3))).toDF("id", "m")
    val e = intercept[IllegalArgumentException] { AvroFiles.write(bad, out) }
    assert(e.getMessage.contains("supports"))
  }
}
