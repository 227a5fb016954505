package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset-style tar-shard source: multimodal training corpora ship as
  * directories of `.tar` shards, each member file one sample component
  * (`00042.jpg`, `00042.txt`, `00042.json`, ...), grouped into samples by
  * the member basename. This reader explodes shard members into rows with
  * a pure-JVM POSIX-ustar walk (512-byte headers, octal sizes, checksum
  * verification) over Spark's `binaryFile` source — no external archive
  * library, no driver-side I/O.
  *
  * Shape at scale: one shard = one `binaryFile` row = one task's work;
  * parallelism is the shard count (the reason WebDataset shards exist),
  * member extraction is a per-partition flatMap with zero shuffles. The
  * sample-grouping step ([[samples]]) is ONE shuffle keyed on
  * (shard, sample key). A shard that fails the tar walk (truncated
  * header, bad checksum) yields a single quarantine row
  * (`member = null, error` set) rather than a task failure — the same
  * quarantine posture as `Multimodal.decodeImages`.
  *
  * Cite: reference pipelines read these shards with Python `webdataset`;
  * the format itself is plain POSIX tar (ustar), so the walk below is
  * self-contained.
  */
object TarShards {

  final case class TarMember(shard: String, member: String, bytes: Array[Byte],
      error: String)

  /** Parse one in-memory tar payload into members. Returns quarantine
    * (null member, error set) on structural corruption; tolerates the
    * standard all-zero end-of-archive blocks and GNU long-name entries
    * are out of contract (ustar names only).
    */
  private[sources] def walkTar(shard: String, bytes: Array[Byte]): Seq[TarMember] = {
    val out = Vector.newBuilder[TarMember]
    var off = 0
    var done = false
    try {
      while (!done && off + 512 <= bytes.length) {
        val header = java.util.Arrays.copyOfRange(bytes, off, off + 512)
        if (header.forall(_ == 0)) { done = true }
        else {
          def str(from: Int, len: Int): String = {
            val end = header.indexWhere(_ == 0, from) match {
              case -1 => from + len
              case e => math.min(e, from + len)
            }
            new String(header, from, end - from, "US-ASCII")
          }
          def octal(from: Int, len: Int): Long = {
            val s = str(from, len).trim
            if (s.isEmpty) 0L else java.lang.Long.parseLong(s, 8)
          }
          // checksum: bytes 148-155 hold the octal sum of the header with
          // the checksum field itself read as spaces
          val stored = octal(148, 8)
          var sum = 0L
          var i = 0
          while (i < 512) {
            sum += (if (i >= 148 && i < 156) ' '.toByte else header(i)) & 0xff
            i += 1
          }
          if (sum != stored)
            throw new IllegalArgumentException(
              s"bad tar checksum at offset $off: stored=$stored computed=$sum")
          // a spec-conformant ustar header splits paths over 100 chars
          // into prefix(345,155) + name(0,100) — ignoring the prefix
          // would silently return truncated member names (wrong sample
          // keys) for long paths. The prefix field is only meaningful
          // under the POSIX magic (bytes 257-262 "ustar\0", version
          // "00"): old-GNU-format tars (magic "ustar  ") store
          // atime/ctime at offsets 345/357, which would otherwise be
          // misread as a path prefix and corrupt member names for
          // externally-produced shards
          val base = str(0, 100)
          val posixUstar = header(257) == 'u' && header(258) == 's' &&
            header(259) == 't' && header(260) == 'a' &&
            header(261) == 'r' && header(262) == 0 &&
            header(263) == '0' && header(264) == '0'
          val prefix = if (posixUstar) str(345, 155) else ""
          val name = if (prefix.isEmpty) base else prefix + "/" + base
          val size = octal(124, 12)
          val typeFlag = header(156).toChar
          val dataStart = off + 512
          if (dataStart + size > bytes.length)
            throw new IllegalArgumentException(
              s"member '$name' overruns shard: $size bytes at $dataStart")
          // '0' and NUL are regular files; directories/links carry no data
          if (typeFlag == '0' || typeFlag == 0.toChar)
            out += TarMember(shard, name, java.util.Arrays.copyOfRange(
              bytes, dataStart, dataStart + size.toInt), null)
          off = dataStart + (((size + 511) / 512) * 512).toInt
        }
      }
      out.result()
    } catch {
      case e: Exception =>
        Vector(TarMember(shard, null, null, String.valueOf(e.getMessage)))
    }
  }

  /** Build one POSIX-ustar payload from (name, bytes) members — the
    * inverse of [[walkTar]] (round-trip spec-verified against an
    * independently hand-rolled reference tar).
    */
  private[sources] def buildTar(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      require(name != null && data != null,
        s"tar member with null name or bytes (name=$name)")
      // reject, never mangle: US-ASCII getBytes would substitute '?' for
      // unmappable chars and the read-back name would differ silently
      require(name.forall(c => c >= 0x20 && c < 0x7f),
        s"ustar member name must be printable ASCII: $name")
      require(name.length <= 100, s"ustar member name too long: $name")
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
      put("ustar", 257); put("00", 263) // POSIX magic + version
      val sum = h.map(_ & 0xff).sum
      put(f"$sum%06o", 148); h(154) = 0; h(155) = ' '.toByte
      bos.write(h); bos.write(data)
      bos.write(new Array[Byte]((512 - data.length % 512) % 512))
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }

  /** Distributed shard writer: one task per shard builds and writes
    * `<shard>.tar` under `outDir` with its members in name order — the
    * packaging side of the WebDataset layout. One shuffle keyed on the
    * shard id; shard payloads are task-local (size your shards, not your
    * cluster). Each shard is committed through [[FileSink]] (temp marker
    * `.tar.tmp-`, which [[members]]' `*.tar` glob never matches), so a
    * task that dies mid-write leaves no truncated shard behind.
    */
  def writeShards(df: DataFrame, shardCol: String, memberCol: String,
      bytesCol: String, outDir: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val sink = FileSink(spark, outDir, "*.tar", ".tar.tmp-")
    df.select(col(shardCol).cast("string"), col(memberCol).cast("string"),
        col(bytesCol).cast("binary"))
      .as[(String, String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (shard, rows) =>
        // fail fast with the shard named: a null shard id would write a
        // file literally called "null.tar", and null member/bytes rows
        // would otherwise surface as an opaque executor NPE mid-write
        require(shard != null, "null shard id (cast produced NULL)")
        sink.commit(shard, "tar") { os =>
          val entries = rows.map { r =>
            require(r._2 != null && r._3 != null,
              s"shard '$shard': member with null name or bytes (member=${r._2})")
            (r._2, r._3)
          }.toSeq.sortBy(_._1)
          os.write(buildTar(entries))
          entries.size.toLong
        }
      }
      .count()
    ()
  }

  /** All members of every `*.tar` under `path`:
    * `(shard, member, bytes, error)` — `error` null for good rows, set on
    * a per-shard quarantine row.
    */
  def members(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tar").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (shard, bytes) => walkTar(shard, bytes) }
      .toDF()
  }

  /** WebDataset sample grouping: members sharing a basename (member name
    * up to the first '.') form one sample; each sample becomes a row with
    * a `component extension -> bytes` map. One shuffle keyed on
    * (shard, sample key). Quarantine rows pass through with null
    * sample_key / components and `n_components = 0` (they must NOT
    * silently vanish — the corruption evidence is the point of the
    * quarantine posture).
    *
    * Duplicate (sample key, extension) members — legal tar, e.g. a
    * re-packed shard where later entries override earlier ones — are
    * collapsed to ONE deterministic survivor (max by (member, bytes);
    * tar's positional later-wins rule is not recoverable after the
    * shuffle) instead of letting `map_from_entries` throw
    * DUPLICATE_MAP_KEY and fail the whole job for one odd shard.
    * `n_components` counts the distinct extensions kept.
    */
  def samples(membersDf: DataFrame): DataFrame = {
    val good = membersDf.filter(col("error").isNull)
    val onePerExt = good
      .withColumn("__key", substring_index(col("member"), ".", 1))
      .withColumn("__ext",
        when(col("member").contains("."),
          expr("substring(member, length(substring_index(member, '.', 1)) + 2)"))
          .otherwise(lit("")))
      .groupBy(col("shard"), col("__key"), col("__ext"))
      .agg(max(struct(col("member"), col("bytes"))).as("__m"))
      .select(col("shard"), col("__key"), col("__ext"),
        col("__m.bytes").as("bytes"))
    val grouped = onePerExt
      .groupBy(col("shard"), col("__key").as("sample_key"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("__ext"), col("bytes"))))).as("components"),
        count(lit(1)).as("n_components"))
    val quarantine = membersDf.filter(col("error").isNotNull)
      .select(col("shard"),
        lit(null).cast("string").as("sample_key"),
        lit(null).cast("map<string,binary>").as("components"),
        lit(0L).as("n_components"))
    grouped.unionByName(quarantine)
  }
}
