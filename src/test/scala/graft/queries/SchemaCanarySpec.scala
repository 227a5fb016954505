package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Testdata schema canary: the driver regenerates the parquet tables
  * between rounds and has already changed physical types once
  * (`events.ts` went from TIMESTAMP(NANOS) to TIMESTAMP_MICROS/NTZ, which
  * silently broke eight tests and two queries spread across the tree).
  * This spec is the single loud tripwire. At every SF directory present
  * it compares the schema Spark infers from each file with the one
  * `Tables` declares (and every query reads with), exactly, and asserts
  * the NORMALIZED events schema, so the next type drift fails here with
  * the column and type in the message instead of as scattered
  * wrong-answer diffs or read errors.
  */
class SchemaCanarySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  private val root = new java.io.File("/root/testdata")
  private val sfDirs: Seq[String] =
    Option(root.listFiles).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted

  test("at least one testdata SF directory exists") {
    assert(sfDirs.nonEmpty, s"no sf* dirs under $root")
  }

  test("Tables.read raises on an undeclared table name") {
    val e = intercept[IllegalArgumentException](
      Tables.read(spark, "unused", "no_such_table"))
    assert(e.getMessage.contains("no_such_table"))
  }

  test("the write-then-read queries declare the schema parquet infers " +
      "for their own output") {
    // each build writes to a scratch path and reads it back through
    // Tables.readWritten; every such scan must have the schema a plain
    // (inferring) read of the same files gives
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = new java.io.File(root, "sf0.001").getPath
    for (name <- Seq("q_embed_quantize", "q_embed_rerank",
        "q_embed_quantize_ivf", "q_time_layout")) {
      val q = graft.SparkEntry.defs.find(_.name == name).get
      val df = try q.fn(spark, dir) finally graft.GraftSession.clearCaches(spark)
      val reads = df.queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation
      }.collect { case h: HadoopFsRelation
        if h.location.rootPaths.exists(_.toString.contains("graft-scratch")) => h }
      assert(reads.nonEmpty, s"$name reads back no output of its own")
      for (h <- reads; root <- h.location.rootPaths) {
        val inferred = spark.read.parquet(root.toString).schema
        assert(h.schema == inferred,
          s"$name: declared ${h.schema.toDDL}, inferred ${inferred.toDDL}")
      }
    }
  }

  private def typeOf(df: org.apache.spark.sql.DataFrame, col: String): DataType =
    df.schema(col).dataType

  test("normalizeTs: nanos-Long, NTZ, and TimestampType inputs all land on " +
      "the same instant (value-level, not just schema)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    val fromLong = Tables.normalizeTs(
      Seq((1L, micros * 1000L + 789L)).toDF("event_id", "ts")) // nanos truncate
    val fromNtz = Tables.normalizeTs(
      Seq((1L, micros)).toDF("event_id", "us")
        .select($"event_id",
          timestamp_micros($"us").cast(TimestampNTZType).as("ts")))
    val fromTs = Tables.normalizeTs(
      Seq((1L, micros)).toDF("event_id", "us")
        .select($"event_id", timestamp_micros($"us").as("ts")))
    for ((df, tag) <- Seq((fromLong, "long"), (fromNtz, "ntz"), (fromTs, "ts"))) {
      assert(typeOf(df, "ts") == TimestampType, s"$tag: wrong type")
      val got = df.select(unix_micros($"ts")).head().getLong(0)
      assert(got == micros, s"$tag: normalized to $got, want $micros")
    }
  }

  for (dir <- sfDirs) {
    val sf = dir.substring(dir.lastIndexOf('/') + 1)

    test(s"[$sf] events: normalized ts is TIMESTAMP (tz-aware), keys are Long") {
      val ev = Tables.events(spark, dir)
      // the file's ts is declared TIMESTAMP_NTZ; Tables.normalizeTs must
      // deliver a plain TimestampType — every unix_millis/unix_micros/
      // window consumer depends on it
      assert(typeOf(ev, "ts") == TimestampType,
        s"events.ts normalized to ${typeOf(ev, "ts")} — ingestion stopped " +
          "normalizing; check Tables.normalizeTs vs the parquet footer")
      assert(typeOf(ev, "event_id") == LongType)
      assert(typeOf(ev, "user_id") == LongType)
      assert(typeOf(ev, "event_type") == StringType)
      assert(typeOf(ev, "value") == DoubleType)
      // and the streaming source's declared schema normalizes the same way
      val streamSchema = graft.streaming.EventStreams.sourceSchema
      val normalized = Tables.normalizeTs(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          streamSchema)).schema
      assert(normalized("ts").dataType == TimestampType,
        s"streaming sourceSchema normalizes ts to ${normalized("ts").dataType}")
    }

    test(s"[$sf] events: normalized ts values sit in a plausible epoch " +
        "range (unit mix-up tripwire)") {
      import org.apache.spark.sql.functions._
      // a regen emitting epoch-MICROS as plain INT64 would pass the
      // type-level canary (normalizeTs treats LongType as nanos) yet land
      // 1000x off — near 1970. Value-level range check fails that loudly.
      val r = Tables.events(spark, dir)
        .agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi"))
        .head()
      val (lo, hi) = (r.getInt(0), r.getInt(1))
      assert(lo >= 2000 && hi <= 2100,
        s"events.ts normalized into years [$lo, $hi] — a unit mix-up in " +
          "ingestion (nanos vs micros vs millis); check Tables.normalizeTs")
    }

    test(s"[$sf] embeddings: vector element type and fixed dimensionality") {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(spark, dir)
      val vecType = typeOf(emb, "embedding")
      assert(vecType.isInstanceOf[ArrayType] &&
        vecType.asInstanceOf[ArrayType].elementType == FloatType,
        s"embeddings.embedding is $vecType, expected array<float>")
      // the similarity/dedup queries pass dim = 64 as a literal (plan
      // construction must not probe the data); a regenerated dim breaks
      // them at runtime — fail here with the number instead
      val d = emb.agg(min(size(col("embedding"))).as("lo"),
        max(size(col("embedding"))).as("hi")).head()
      assert(d.getInt(0) == 64 && d.getInt(1) == 64,
        s"embedding dim drifted to [${d.getInt(0)}, ${d.getInt(1)}], " +
          "queries pass dim = 64 as a literal")
    }

    test(s"[$sf] embeddings contain no NaN components (oracle NaN-sort " +
        "contract)") {
      import org.apache.spark.sql.functions._
      // the kmeans/IVF/PQ oracle replays and the cosine score compares
      // assume a NaN-free corpus: DuckDB sorts NaN as GREATEST while
      // Spark's NaN-propagated cosines go NULL-last, and the engine's
      // NearestCentroid gives NaN vectors a NULL cell — a regen emitting
      // even one NaN component would flip several oracles red. Fail HERE
      // with the count instead.
      val n = Tables.embeddings(spark, dir)
        .filter(exists(col("embedding"), x => isnan(x.cast("double"))))
        .count()
      assert(n == 0, s"embeddings has $n vectors with NaN components — " +
        "the similarity/kmeans oracle NaN contracts no longer hold")
    }

    test(s"[$sf] document text never parses as a real image header " +
        "(q_multimodal_geom stub-path contract)") {
      import org.apache.spark.sql.functions._
      // q_multimodal_geom's oracle replays ONLY the deterministic stub
      // fold: a text that happened to start with an image magic (BMP's
      // ASCII 'BM', GIF's 'GIF8'; PNG/JPEG magics are non-ASCII and
      // cannot lead a text column) would take the real header-decode
      // branch in the engine and diverge. NULL text would likewise split
      // the two sides (engine zero-dims vs oracle NULL fold). Pin both.
      val docs = Tables.documents(spark, dir)
      val bad = docs.filter(col("text").isNull ||
        col("text").startsWith("BM") || col("text").startsWith("GIF8")).count()
      assert(bad == 0, s"$bad documents have NULL text or an image-magic " +
        "prefix — q_multimodal_geom's stub-only oracle no longer matches " +
        "the engine's decode dispatch")
    }

    test(s"[$sf] corpus tokens are ^[a-z]+$$ with count >= 2 " +
        "(q_bpe_tokenize training-replay contract)") {
      import org.apache.spark.sql.functions._
      // q_bpe_tokenize's oracle replays the FULL training loop in
      // sentinel-encoded SQL and skips a separate encode replay; both
      // need every corpus token to (a) use a '|'-free [a-z] alphabet and
      // (b) clear minCount = 2, so the trained vocab covers the corpus
      // and encode == training segmentation. A regen violating either
      // would flip the oracle red — fail HERE with the offending tokens.
      val toks = Tables.documents(spark, dir)
        .select(explode(graft.operators.Corpus.spanTokens(col("text")))
          .as("tok"))
      val nonAlpha = toks.filter(!col("tok").rlike("^[a-z]+$"))
        .distinct().limit(5).collect().map(_.getString(0))
      assert(nonAlpha.isEmpty,
        s"non-[a-z]+ corpus tokens: ${nonAlpha.mkString(", ")} — the " +
          "sentinel-encoded BPE training replay no longer applies")
      val rare = toks.groupBy("tok").count().filter(col("count") < 2)
        .limit(5).collect().map(_.getString(0))
      assert(rare.isEmpty,
        s"tokens below minCount=2: ${rare.mkString(", ")} — corpus words " +
          "outside the trained vocab break the census-without-encode replay")
    }

    test(s"[$sf] id columns are unique (deterministic ORDER BY id " +
        "contracts)") {
      import org.apache.spark.sql.functions._
      // the kmeans/PQ oracle replays and the id-ordered training sample
      // (Similarity.trainCentroids sampleOrderCol), the dedup min-id
      // survivor rules, and every ORDER BY id LIMIT both engines run all
      // assume unique ids — a regen emitting duplicates would make tie
      // order engine-unspecified and the oracle flaky, so fail HERE with
      // the table named instead
      for ((t, c) <- Seq(("embeddings", "vec_id"), ("documents", "doc_id"))) {
        val df = Tables.read(spark, dir, t)
        val r = df.agg(count(col(c)).as("n"),
          countDistinct(col(c)).as("d")).head()
        assert(r.getLong(0) == r.getLong(1),
          s"$t.$c has duplicates: ${r.getLong(0)} rows, " +
            s"${r.getLong(1)} distinct")
      }
    }

    test(s"[$sf] id ranges the declared queries select on are inhabited") {
      import org.apache.spark.sql.functions._
      // q_knn_ivf / q_knn_join take vec_id < 20 as the query batch and
      // q_dedup_incremental takes doc_id % 10 = 0 as the delta; a regen
      // shifting or re-keying ids would make those selections EMPTY and
      // the queries would 'pass' vacuously (0 == 0 against the oracle).
      // Pin the inhabited ranges here with the offending table named.
      val nq = Tables.embeddings(spark, dir)
        .filter(col("vec_id") < 20).count()
      assert(nq == 20,
        s"embeddings has $nq rows with vec_id < 20 (want 20) — " +
          "the kNN query batch selection went vacuous")
      val nd = Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 0).count()
      assert(nd > 0,
        "documents has no doc_id % 10 == 0 rows — the incremental-dedup " +
          "delta selection went vacuous")
    }

    test(s"[$sf] every lineitem row has its order (q21 foreign-key " +
        "contract)") {
      import org.apache.spark.sql.functions._
      // q21's window rewrite counts an order's distinct suppliers over
      // the lineitem⋈orders INNER join, while its oracle's EXISTS l2
      // reads raw lineitem: the two agree only if that join drops no
      // lineitem row, i.e. l_orderkey is a foreign key into orders
      val orphans = Tables.lineitem(spark, dir).select("l_orderkey")
        .join(Tables.orders(spark, dir).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .count()
      assert(orphans == 0,
        s"$orphans lineitem rows have no order — q21's window rewrite " +
          "(EXISTS / NOT EXISTS as per-order supplier-set sizes over the " +
          "lineitem⋈orders join) no longer matches its oracle")
    }

    test(s"[$sf] every table's inferred schema equals its declaration " +
        "in Tables") {
      // inferred from the file footers on purpose: Tables.read returns
      // the declaration itself, so checking its schema would pass by
      // construction whatever the files hold
      val files = Option(new java.io.File(dir).list).getOrElse(Array.empty)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
      assert(files == Tables.schemas.keySet,
        s"tables on disk ${files.toSeq.sorted.mkString(", ")} vs declared " +
          Tables.schemas.keys.toSeq.sorted.mkString(", "))
      val drift = for {
        (table, declared) <- Tables.schemas.toSeq.sortBy(_._1)
        inferred = spark.read.parquet(s"$dir/$table.parquet").schema
        (got, want) <- inferred.fields.toSeq.map(Option(_))
          .zipAll(declared.fields.toSeq.map(Option(_)), None, None)
        if got != want
      } yield s"$table: file ${got.getOrElse("-")}, declared ${want.getOrElse("-")}"
      assert(drift.isEmpty, s"testdata schema drift:\n${drift.mkString("\n")}")
    }
  }
}
