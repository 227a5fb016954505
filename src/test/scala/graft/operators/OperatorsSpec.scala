package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Verification of the non-oracle operators against exact recomputation
  * (SURVEY §5.3): LSH dedup vs exact O(n^2) similarity, as-of join vs a
  * naive per-row scan, IVF vs brute force, the multimodal decode stub.
  */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")

  test("minhash LSH finds exactly the exact-Jaccard pairs at high recall config") {
    val sample = docs.filter($"doc_id" < 150)
    // exact all-pairs jaccard over the sample
    val a = sample.select($"doc_id".as("id_a"), $"text".as("ta"))
    val b = sample.select($"doc_id".as("id_b"), $"text".as("tb"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("j", Dedup.jaccard($"ta", $"tb"))
      .filter($"j" >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(sample, "doc_id", "text",
      threshold = 0.5, bands = 16, rows = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH reported a pair below threshold")
    assert(exact == lsh, s"recall gap: missed ${(exact -- lsh).size} of ${exact.size}")
    assert(exact.nonEmpty, "test vacuous: no near-dup pairs in sample")
  }

  test("simhash: identical text -> distance 0; small perturbation -> small distance") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines at scale")
    ).toDF("id", "text")
    val sigs = df.select($"id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
    val cands = Dedup.simhashCandidates(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(cands.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    // NULL text hashes as '' (the minhash/md5 rule): two null-text docs
    // are exact duplicates with NON-NULL signatures and surface as a
    // hamming-0 candidate — a NULL signature would vanish from the
    // banding join (or emit NULL-hamming star pairs) instead
    val withNulls = df.union(Seq(
      (5L, null.asInstanceOf[String]), (6L, null.asInstanceOf[String]))
      .toDF("id", "text"))
    val nullSigs = withNulls.select($"id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(nullSigs(5L).isDefined && nullSigs(5L) == nullSigs(6L))
    val nullCands = Dedup.simhashCandidates(withNulls, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(nullCands.exists { case (a, b, h) => a == 5L && b == 6L && h == 0 },
      s"null-text exact dup missing from candidates: ${nullCands.toList}")
  }

  test("simhash md5 mode: driver-replayed bit for bit; exact dups at hamming 0 in both modes") {
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "the quick brown fox leaps over the lazy dog again and again",
      4L -> "completely different content about spark query engines at scale")
    val df = texts.toDF("id", "text")
    // independent driver reference of the whole md5 pipeline: md5 halves,
    // 64 majority votes (votes > 0 rule), 4x16-bit chunks, chunk-equality
    // candidates, XOR-popcount hamming
    def chunksOf(text: String): IndexedSeq[Long] = {
      val votes = new Array[Int](64)
      for (t <- text.trim.toLowerCase.split("\\s+")) {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        def half(off: Int): Long =
          (0 until 4).foldLeft(0L)((a, i) => (a << 8) | (d(off + i) & 0xffL))
        val hi = half(0); val lo = half(4)
        for (i <- 0 until 64) {
          val h = if (i < 32) lo else hi
          votes(i) += (if (((h >> (i % 32)) & 1L) == 1L) 1 else -1)
        }
      }
      IndexedSeq.tabulate(4)(b =>
        (0 until 16).map(j => if (votes(b * 16 + j) > 0) 1L << j else 0L).sum)
    }
    val cs = texts.toMap.map { case (id, t) => id -> chunksOf(t) }
    val ids = cs.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if (0 until 4).exists(k => cs(a)(k) == cs(b)(k))
    } yield (a, b,
      (0 until 4).map(k => java.lang.Long.bitCount(cs(a)(k) ^ cs(b)(k))).sum))
      .toSet
    val got = Dedup.simhashCandidatesMd5(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected,
      s"md5 simhash drift: engine-only ${got -- expected}, " +
        s"reference-only ${expected -- got}")
    assert(got.contains((1L, 2L, 0)), "exact duplicate not at hamming 0")
    // the invariant both hash modes share: identical texts -> identical
    // signatures -> a hamming-0 pair (signature VALUES are hash-family-
    // specific, so only this exact-dup contract is mode-independent)
    val xx = Dedup.simhashCandidates(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(xx.contains((1L, 2L, 0)), "xxhash mode lost the exact-dup pair")
  }

  test("fingerprint: equal token stream <-> equal fingerprint on test docs") {
    val fps = docs.select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
    val nDocs = fps.count()
    val nFps = fps.select("fp").distinct().count()
    val nTexts = docs.select("text").distinct().count()
    assert(nFps == nTexts, s"fingerprint collisions: $nFps fps for $nTexts texts")
    assert(nDocs == 500)
    // the md5 mode keeps the separation property (same fold, different
    // per-token hash) and computes the reference fold bit-for-bit: replay
    // one row driver-side with JVM Long wraparound over md5 token hashes
    val fpsMd5 = docs.select($"doc_id",
      TextAnalysis.fingerprintMd5($"text").as("fp"))
    assert(fpsMd5.select("fp").distinct().count() == nTexts)
    val row = docs.orderBy("doc_id").select("doc_id", "text").first()
    val expected = row.getString(1).trim.split("\\s+").foldLeft(0L) { (acc, t) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      acc * 31L + java.lang.Long.parseLong(hex, 16)
    }
    val got = fpsMd5.filter($"doc_id" === row.getLong(0)).first().getLong(1)
    assert(got == expected, s"md5 fingerprint fold mismatch: $got vs $expected")
  }

  test("as-of join matches a naive per-row computation") {
    val ev = graft.queries.Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("p_id"))
    val got = AsOfJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
      Map("p_event" -> "p_id"))
      .select("event_id", "p_event").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // naive: for each click, scan all purchases of that user
    val ps = purchases.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    val naive = clicks.collect().map { c =>
      val (id, uid, ts) = (c.getLong(0), c.getLong(1), c.getTimestamp(2))
      val prior = ps.filter(p => p._1 == uid && !p._2.after(ts))
      id -> (if (prior.isEmpty) -1L else prior.maxBy(p => (p._2.getTime, p._2.getNanos))._3)
    }.toMap
    assert(got == naive)
  }

  test("as-of join: SQL null semantics and whole-row payload atomicity") {
    val right = Seq(
      (Option(1L), Option(5L), Option(1), Option(2)),
      (Option(1L), Option(10L), Option(7), Option.empty[Int]),
      (Option(1L), Option.empty[Long], Option(99), Option(99)),
      (Option.empty[Long], Option(5L), Option(50), Option(50))
    ).toDF("k", "rt", "a", "b")
    val left = Seq(
      (1L, Option(1L), Option(12L)),
      (2L, Option(1L), Option.empty[Long]),
      (3L, Option.empty[Long], Option(12L))
    ).toDF("id", "k", "lt")
    val got = AsOfJoin(left, right, Seq("k"), "lt", "rt",
      Map("pa" -> "a", "pb" -> "b"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getInt(3)),
          if (r.isNullAt(4)) None else Some(r.getInt(4))))).toMap
    // id=1: the t=10 row matches ATOMICALLY -> (7, NULL); a per-column
    // fill would stitch b=2 from the older t=5 row (frankenrow)
    assert(got(1L) == ((Some(7), None)), s"payload not row-atomic: ${got(1L)}")
    // id=2: NULL left time matches nothing
    assert(got(2L) == ((None, None)))
    // id=3: NULL key matches nothing (even though a NULL-key right row exists)
    assert(got(3L) == ((None, None)))
    // forward variant: NULL left time must not inherit under desc ordering
    val fwd = AsOfJoin.forward(left, right, Seq("k"), "lt", "rt",
      Map("pa" -> "a"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(fwd(2L) && fwd(3L), "null left time/key matched in forward join")
    // payload name colliding with a left column fails fast
    intercept[IllegalArgumentException] {
      AsOfJoin(left, right, Seq("k"), "lt", "rt", Map("id" -> "a"))
    }
  }

  test("native as-of join fails fast on key/time type mismatches") {
    // the merge iterator compares with orderings built from the LEFT
    // side's types; an int-vs-long key or long-vs-timestamp time would
    // otherwise compare raw bytes and mis-match silently
    val left = Seq((1, 10L)).toDF("k", "lt")           // k: int
    val right = Seq((1L, 5L, "x")).toDF("k", "rt", "p") // k: long
    intercept[IllegalArgumentException] {
      AsOfJoin.native(left, right, Seq("k"), "lt", "rt", Map("pp" -> "p"))
    }
    val left2 = Seq((1L, 10L)).toDF("k", "lt")          // lt: long
    val right2 = Seq((1L, new java.sql.Timestamp(5000L), "x")).toDF("k", "rt", "p")
    intercept[IllegalArgumentException] {
      AsOfJoin.native(left2, right2, Seq("k"), "lt", "rt", Map("pp" -> "p"))
    }
    // matching types still work
    val ok = AsOfJoin.native(Seq((1L, 10L)).toDF("k", "lt"),
      Seq((1L, 5L, "x")).toDF("k", "rt", "p"), Seq("k"), "lt", "rt",
      Map("pp" -> "p")).collect()
    assert(ok.length == 1 && ok(0).getString(2) == "x")
  }

  test("topKPairs: deterministic ties, NULL skip, bounded map-side partials") {
    import graft.functions.Aggregators
    // ties resolve to the LOWEST id regardless of layout/merge order
    val rows = (0 until 400).map(i => ("g", if (i < 100) 5.0 else 1.0, i.toLong))
    for (parts <- Seq(1, 13)) {
      val got = rows.toDF("g", "s", "id").repartition(parts)
        .groupBy("g").agg(Aggregators.topKPairs(col("s"), col("id"), 5).as("t"))
        .select(explode(col("t")).as("e")).select("e.score", "e.id")
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      assert(got.toSeq == (0L until 5L).map(i => (5.0, i)), s"at $parts parts: ${got.toSeq}")
    }
    // NULL scores/ids are skipped, not treated as 0
    val withNulls = Seq(("g", Some(2.0), Some(1L)), ("g", None, Some(2L)),
      ("g", Some(9.0), None), ("g", Some(1.0), Some(3L)))
      .toDF("g", "s", "id")
    val nn = withNulls.groupBy("g")
      .agg(Aggregators.topKPairs(col("s"), col("id"), 10).as("t"))
      .select(explode(col("t")).as("e")).select("e.id")
      .collect().map(_.getLong(0))
    assert(nn.toSeq == Seq(1L, 3L), s"NULL handling wrong: ${nn.toSeq}")
    // a NaN score must not poison the heap (NaN compares false both ways:
    // admitted, it would lodge at the root and veto every later insert)
    val withNaN = Seq(("g", Double.NaN, 0L), ("g", 1.0, 1L), ("g", 2.0, 2L),
      ("g", 3.0, 3L)).toDF("g", "s", "id")
    val kept = withNaN.groupBy("g")
      .agg(Aggregators.topKPairs(col("s"), col("id"), 2).as("t"))
      .select(explode(col("t")).as("e")).select("e.id")
      .collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(3L, 2L), s"NaN poisoned the heap: ${kept.toSeq}")
    // partial (map-side) aggregation present: the shuffle carries heap
    // buffers, not scored rows
    val plan = rows.toDF("g", "s", "id")
      .groupBy("g").agg(Aggregators.topKPairs(col("s"), col("id"), 5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk_pairs"),
      s"no map-side partial aggregation:\n${plan.take(800)}")
  }

  test("knnJoin == per-query brute force; IVF variant has high recall") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val queries = emb.filter($"vec_id" < 10)
    val got = Similarity.knnJoin(queries, "vec_id", "v", emb, "vec_id", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // reference: the single-query brute-force operator, per query
    for (q <- queries.select("vec_id", "v").collect()) {
      val qid = q.getLong(0)
      val want = Similarity.topK(emb, "vec_id", "v", q.getSeq[Double](1), 5)
        .collect().map(_.getLong(0))
      (1 to 5).foreach { rk =>
        assert(got((qid, rk)) == want(rk - 1),
          s"query $qid rank $rk: got ${got((qid, rk))}, want ${want(rk - 1)}")
      }
    }
    // IVF-pruned variant: recall@5 vs the exact join stays high
    val centroids = Similarity.trainCentroids(emb, "v", k = 8)
    val ivf = Similarity.knnJoinIvf(queries, "vec_id", "v", emb, "vec_id", "v",
      centroids, k = 5, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactSets = got.toSeq.groupBy(_._1._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = exactSets.map { case (qid, ex) =>
      ivf.getOrElse(qid, Set.empty).intersect(ex).size.toDouble / ex.size
    }.sum / exactSets.size
    assert(recall >= 0.6, s"IVF knn-join recall@5 too low: $recall")
  }

  test("knnJoin enforces its broadcast-query contract: over-cap query " +
      "sets fail at execution with a pointer to the IVF route; " +
      "construction stays job-free") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // at the cap: fine
    val ok = Similarity.knnJoin(emb.filter($"vec_id" < 4), "vec_id", "v",
      emb, "vec_id", "v", k = 2, maxQueryRows = 4L)
    assert(ok.count() > 0)
    // one past the cap: CONSTRUCTION must not throw (and must not run a
    // probe job — the r14 deferred guard restored the job-free
    // plan-composition convention); the raise_error guard fires at
    // EXECUTION, before any |C|x|Q| work, routing the caller to knnJoinIvf
    val over = Similarity.knnJoin(emb.filter($"vec_id" < 5), "vec_id", "v",
      emb, "vec_id", "v", k = 2, maxQueryRows = 4L)
    val e = intercept[Exception] { over.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("knnJoinIvf") && all.contains("maxQueryRows"),
      s"guard did not fire (pruned as dead code?): $all")
  }

  test("url parsing: host/path/registered domain incl. ports and bare hosts") {
    val rows = Seq(
      (1L, "https://a.b.example.com/x/y?q=1"),
      (2L, "http://example.com:8080/p"),
      (3L, "https://localhost/z"),
      (4L, "not a url at all")
    ).toDF("id", "url")
    val got = rows.select($"id",
        TextAnalysis.urlHost($"url").as("h"),
        TextAnalysis.urlPath($"url").as("p"),
        TextAnalysis.registeredDomain(TextAnalysis.urlHost($"url")).as("d"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2)), Option(r.getString(3))))).toMap
    assert(got(1L) == ((Some("a.b.example.com"), Some("/x/y"), Some("example.com"))))
    assert(got(2L)._1 == Some("example.com") && got(2L)._3 == Some("example.com"))
    assert(got(3L) == ((Some("localhost"), Some("/z"), Some("localhost"))))
    assert(got(4L)._1.isEmpty, "malformed URL must parse to NULL host")
    // rooted FQDN (trailing dot): the garbage pseudo-domain "com." trap
    val rooted = Seq((1L, "a.example.com.")).toDF("id", "h")
      .select(TextAnalysis.registeredDomain($"h")).collect().head.getString(0)
    assert(rooted == "example.com", s"rooted host mapped to '$rooted'")
  }

  test("langId normalizes case and string edges like the stopword rules; " +
      "blank-text wordNgrams(n=1) honors the empty-array contract") {
    val rows = Seq(
      (1L, "The Best Of The Best"),        // title case: every marker capitalized
      (2L, "the cat and the dog of it"),   // lowercase control
      (3L, "der und die der und die x y"), // german
      (4L, "zzz qqq vvv")                  // no markers
    ).toDF("id", "text")
    val got = rows.select($"id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en", s"title-case english scored as ${got(1L)}")
    assert(got(2L) == "en" && got(3L) == "de" && got(4L) == "und")
    // blank text: one physical empty token, ZERO real tokens
    val blank = Seq(Tuple1("   ")).toDF("t")
      .select(TextAnalysis.wordNgrams($"t", 1)).collect().head.getSeq[String](0)
    assert(blank.isEmpty, s"wordNgrams(blank, 1) returned $blank")
    // inverted index: df comes from an aggregate + join, never a
    // per-term window (a zipfian head term would funnel into one task)
    val plan = TextAnalysis.invertedIndex(
        Seq((1L, "a b"), (2L, "a c")).toDF("id", "text"), "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "invertedIndex regressed to a window df")
  }

  test("HLL sketches: 5%-of-exact accuracy, union of partials == global sketch") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val exact = ev.select(countDistinct($"user_id")).collect()(0).getLong(0)
    val global = ev.agg(hll_sketch_estimate(hll_sketch_agg($"user_id")))
      .collect()(0).getLong(0)
    assert(math.abs(global - exact).toDouble / exact < 0.05,
      s"global estimate $global vs exact $exact")
    // re-aggregating stored per-group sketches equals the one-pass
    // global sketch EXACTLY at this corpus's (sparse-mode) cardinality.
    // NOT a general law: at dense-mode cardinalities DataSketches' union
    // path (Gadget/HLL_8) and a direct build legitimately differ by a
    // fraction of the rsd (measured 1488 vs 1499 on 1500 exact at
    // sf0.1) — the oracle-surface form is q_sketch_distinct's
    // hll_union_consistent 3%-of-exact bound
    val unioned = ev.groupBy("event_type")
      .agg(hll_sketch_agg($"user_id").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")))
      .collect()(0).getLong(0)
    assert(unioned == global,
      s"sketch union ($unioned) diverged from global sketch ($global)")
  }

  test("fuzzy join == naive levenshtein cross join, without the nested-loop plan") {
    val rnd = new scala.util.Random(31)
    val words = Seq("spark", "spork", "sparkle", "park", "shark", "quark",
      "sparc", "spar", "s", "", "plank", "prank", "frank")
    val a = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("aid", "as")
    val b = words.map(w => if (rnd.nextBoolean() && w.nonEmpty) w.drop(1) else w + "x")
      .zipWithIndex.map { case (w, i) => (i.toLong + 100, w) }.toDF("bid", "bs")
    val got = FuzzyJoin.editDistanceJoin(a, "aid", "as", b, "bid", "bs", maxDist = 2)
      .select("aid", "bid", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = a.crossJoin(b)
      .withColumn("d", levenshtein(col("as"), col("bs")))
      .filter(col("d") <= 2).select("aid", "bid", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"extra=${got -- want}, missing=${want -- got}")
    // and the plan is an equi-join on the length band, not a nested loop
    val plan = FuzzyJoin.editDistanceJoin(a, "aid", "as", b, "bid", "bs", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy join fell back to a nested loop:\n${plan.take(800)}")
  }

  test("url canonicalization collapses case/port/fragment/utm/slash variants") {
    val variants = Seq(
      "https://WWW.Example.com:443/a/b/?utm_source=x&b=2&a=1#frag",
      "http://www.example.com/a/b?a=1&b=2",
      "HTTPS://www.Example.COM/a/b?b=2&a=1", // uppercase scheme spellings
      "https://www.example.com:443/a/b/?b=2&utm_campaign=y&a=1")
    val canon = variants.toDF("url")
      .select(TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSet
    assert(canon == Set("www.example.com/a/b?a=1&b=2"), s"got $canon")
    // distinct pages stay distinct; root path normalizes to "/"
    val other = Seq(
      ("https://example.com", "example.com/"),
      ("https://example.com/", "example.com/"),
      ("https://example.com/x", "example.com/x"),
      ("https://example.com/y?z=1", "example.com/y?z=1"))
    other.foreach { case (in, want) =>
      val got = Seq(in).toDF("url")
        .select(TextAnalysis.canonicalizeUrl(col("url"))).collect()(0).getString(0)
      assert(got == want, s"$in -> $got, want $want")
    }
  }

  test("gopher rules: each rule trips on its own pathology, clean text passes") {
    import TextAnalysis.GopherConfig
    val cfg = GopherConfig(minWords = 5L, maxWords = 50L, minStopwordHits = 1)
    val clean = "the quick brown fox jumps over the lazy dog with great energy today"
    val docs = Seq(
      (1L, clean),                                           // passes all
      (2L, "too short"),                                     // word count
      (3L, Seq.fill(20)("a").mkString(" ")),                 // mean word len < 3
      (4L, "the " + Seq.fill(10)("x#y#z#").mkString(" ")),   // symbol ratio
      (5L, "the intro line\n- one\n- two\n- three\n- four"), // bullets
      (6L, "the first thing...\nthe second thing...\nok"),   // ellipsis lines
      (7L, "the 111 222 333 444 555 666 777 888 999 000"),   // alpha words
      (8L, "quick brown fox jumps over lazy dogs daily")     // no stopword
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, col("text"), cfg)
      .select("doc_id", "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_ratio", "r_ellipsis_ratio", "r_alpha_words", "r_stopwords",
        "quality_pass")
      .collect().map(row => row.getLong(0) ->
        (1 to 8).map(row.getBoolean)).toMap
    assert(r(1L).forall(identity), s"clean doc failed a rule: ${r(1L)}")
    assert(!r(2L)(0) && !r(2L).last, "short doc passed word-count rule")
    assert(!r(3L)(1), "single-char words passed mean-word-len rule")
    assert(!r(4L)(2), "hash-riddled doc passed symbol-ratio rule")
    assert(!r(5L)(3), "bullet list passed bullet-ratio rule")
    assert(!r(6L)(4), "ellipsis-ended lines passed ellipsis rule")
    assert(!r(7L)(5), "numeric doc passed alpha-words rule")
    assert(!r(8L)(6), "stopword-free doc passed stopword rule")
    // empty text: every ratio is defined (no NULL flags), pass is false
    val empty = TextAnalysis.gopherRules(Seq((9L, "")).toDF("doc_id", "text"),
      col("text"), cfg).collect()(0)
    assert(!empty.getAs[Boolean]("quality_pass"))
    (1 to 8).foreach(i => assert(!empty.isNullAt(i + 1), s"flag $i NULL on empty"))
  }

  test("quality ratios are 0 (not NULL) on empty docs; subwords are case-insensitive") {
    val df = Seq((1L, ""), (2L, "Hello World")).toDF("doc_id", "text")
    val q = TextAnalysis.qualitySignals(df, col("text"))
      .filter($"doc_id" === 1L).collect()(0)
    Seq("alpha_ratio", "digit_ratio", "space_ratio").foreach { c =>
      assert(!q.isNullAt(q.fieldIndex(c)), s"$c is NULL on the empty doc")
      assert(q.getAs[Double](c) == 0.0)
    }
    val sw = df.filter($"doc_id" === 2L)
      .select(TextAnalysis.subwordCount($"text")).collect()(0).getLong(0)
    assert(sw == 2L, s"'Hello World' must be 2 subword runs, got $sw")
  }

  test("IVF top-k has full recall with all cells probed; subset recall otherwise") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.queries.PipelineQueries.fixedQueryVector
    val cents = Similarity.trainCentroids(emb, "embedding", k = 8)
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val full = Similarity.topKIvf(emb, "vec_id", "embedding", cents, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute, "nprobe=all must equal brute force")
    val partial = Similarity.topKIvf(emb, "vec_id", "embedding", cents, q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(partial.intersect(brute.toSet).size >= 5, "IVF recall collapsed")
    // training is deterministic: second run yields identical centroids
    val again = Similarity.trainCentroids(emb, "embedding", k = 8)
    assert(cents == again, "k-means training must be deterministic")
    // ... and layout-independent: the content-keyed hash sample sees the
    // same vectors whatever the partitioning or row order
    val relaid = Similarity.trainCentroids(
      emb.repartition(7, $"vec_id"), "embedding", k = 8)
    assert(cents == relaid, "centroids must not depend on physical layout")
  }

  test("LSH top-k: true cosines, deterministic, recall vs brute force") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.queries.PipelineQueries.fixedQueryVector
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 10).collect()
    val bruteIds = brute.map(_.getLong(0)).toSeq
    val got = Similarity.topKLsh(emb, "vec_id", "embedding", 64, q, 10).collect()
    info(s"lsh recall: ${got.map(_.getLong(0)).toSet.intersect(bruteIds.toSet).size}/10")
    assert(got.length == 10, "candidate set must cover k at this corpus size")
    // every returned score is a TRUE cosine (re-rank is exact): each id's
    // score equals its brute-force score
    val bruteAll = Similarity.topK(emb, "vec_id", "embedding", q, 2000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach(r => assert(math.abs(bruteAll(r.getLong(0)) - r.getDouble(1)) < 1e-12))
    // descending order, and recall against the exact top-10
    assert(got.map(_.getDouble(1)).toSeq == got.map(_.getDouble(1)).toSeq.sorted.reverse)
    assert(got.map(_.getLong(0)).toSet.intersect(bruteIds.toSet).size >= 7,
      "LSH recall collapsed")
    // deterministic across runs and layouts
    val relaid = Similarity.topKLsh(emb.repartition(7), "vec_id", "embedding",
      64, q, 10).collect().map(_.getLong(0)).toSeq
    assert(relaid == got.map(_.getLong(0)).toSeq)
  }

  test("approx_count_distinct stays within its declared relative error") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k).toDouble
      // rsd 0.02 declared; allow 4 sigma
      assert(math.abs(a - e) / e <= 0.08, s"group $k: approx $a vs exact $e")
    }
  }

  test("topKIvf ignores an unrelated `cell` column unless precomputedCells") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = graft.queries.PipelineQueries.fixedQueryVector
    val cents = Similarity.trainCentroids(emb, "embedding", k = 8)
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).toSeq
    val clean = ids(Similarity.topKIvf(emb, "vec_id", "embedding", cents, q,
      10, nprobe = 8))
    // a stale/unrelated cell column (user data or a previous training
    // run) must NOT silently poison the probe filter
    val poisoned = emb.withColumn("cell", lit(9999))
    assert(ids(Similarity.topKIvf(poisoned, "vec_id", "embedding", cents, q,
      10, nprobe = 8)) == clean)
    // explicit opt-in honors the precomputed assignment
    val assigned = Similarity.assignCells(emb, "embedding", cents)
    assert(ids(Similarity.topKIvf(assigned, "vec_id", "embedding", cents, q,
      10, nprobe = 8, precomputedCells = true)) == clean)
    // ... and demands the column it was promised
    assertThrows[IllegalArgumentException] {
      Similarity.topKIvf(emb, "vec_id", "embedding", cents, q,
        10, nprobe = 8, precomputedCells = true)
    }
  }

  test("IVF partitioned layout prunes non-probed cells at the file level") {
    import org.apache.spark.sql.functions.input_file_name
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainCentroids(emb, "embedding", k = 8)
    val path = SparkTestSession.tmpPath("ivf_layout_test")
    Similarity.writePartitionedByCell(emb, "embedding", cents, path)
    val q = graft.queries.PipelineQueries.fixedQueryVector
    // correctness: all cells probed == brute force
    val full = Similarity.topKIvfPartitioned(spark, path, "vec_id", "embedding",
      cents, q, 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute)
    // pruning: a 2-cell probe must physically read fewer files than a full
    // scan — partition pruning on the cell directory, not a row filter
    val allFiles = spark.read.parquet(path)
      .select(input_file_name()).distinct().count()
    val probeCells = cents.map { case (cid, cvec) =>
      (cid, cvec.zip(q).map { case (x, y) => x * y }.sum)
    }.sortBy(-_._2).take(2).map(_._1)
    val prunedFiles = spark.read.parquet(path)
      .filter($"cell".isin(probeCells: _*))
      .select(input_file_name()).distinct().count()
    assert(prunedFiles < allFiles,
      s"no file-level pruning: $prunedFiles of $allFiles files read")
    assert(Similarity.topKIvfPartitioned(spark, path, "vec_id", "embedding",
      cents, q, 10, nprobe = 2).count() == 10)
  }

  test("product quantization: full-rerank identity, recall, determinism") {
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb = raw.select($"vec_id",
      Similarity.normalized($"embedding").as("vn"))
    val cb = Similarity.trainPq(emb, "vn", m = 8, ksub = 16)
    // code shape: m entries, each < ksub
    val encoded = Similarity.pqEncode(emb, "vn", cb)
    val code = encoded.select($"pq_code").collect()(0).getSeq[Int](0)
    assert(code.length == 8 && code.forall(c => c >= 0 && c < 16))
    val q0 = graft.queries.PipelineQueries.fixedQueryVector
    val nq = math.sqrt(q0.map(x => x * x).sum)
    val q = q0.map(_ / nq)
    val brute = Similarity.topK(raw, "vec_id", "embedding", q0, 10)
      .collect().map(_.getLong(0)).toSeq
    // rerank window covering the whole table == exact brute force
    // (cosine is scale-invariant, so normalized-vector scores rank
    // identically to the raw embeddings)
    val full = Similarity.topKPq(encoded, "vec_id", "vn", cb, q, 10,
      rerank = emb.count().toInt)
      .collect().map(_.getLong(0)).toSeq
    assert(full == brute, "full-rerank PQ must equal brute force")
    // practical rerank window keeps useful recall
    val approx = Similarity.topKPq(encoded, "vec_id", "vn", cb, q, 10,
      rerank = 8).collect().map(_.getLong(0)).toSet
    assert(approx.intersect(brute.toSet).size >= 5,
      s"PQ recall collapsed: ${approx.intersect(brute.toSet).size}/10")
    // codebooks are layout-independent (content-hash-ordered sample)
    val cb2 = Similarity.trainPq(
      emb.repartition(7, $"vec_id"), "vn", m = 8, ksub = 16)
    assert(cb == cb2, "PQ training must not depend on physical layout")
    // IVF + PQ composition: all cells probed + full rerank == brute force
    val cents = Similarity.trainCentroids(emb, "vn", k = 8)
    val celled = Similarity.assignCells(encoded, "vn", cents)
    val ivfpq = Similarity.topKIvfPq(celled, "vec_id", "vn", cents, cb, q,
      10, nprobe = 8, rerank = emb.count().toInt)
      .collect().map(_.getLong(0)).toSeq
    assert(ivfpq == brute, "IVF+PQ with full probes/rerank must equal brute force")
    // probing a cell subset keeps useful recall
    val partial = Similarity.topKIvfPq(celled, "vec_id", "vn", cents, cb, q,
      10, nprobe = 4, rerank = 8).collect().map(_.getLong(0)).toSet
    assert(partial.intersect(brute.toSet).size >= 4,
      s"IVF+PQ recall collapsed: ${partial.intersect(brute.toSet).size}/10")
  }

  test("int8 quantization: reconstruction error bounded by scale/2 per element") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val rt = emb.select($"vec_id",
      Similarity.quantizeInt8($"embedding").as("qz"),
      $"embedding".cast("array<double>").as("emb"))
      .select($"vec_id", $"qz.scale".as("scale"),
        Similarity.dequantizeInt8($"qz").as("deq"), $"emb")
      .selectExpr("vec_id", "scale",
        "array_max(zip_with(deq, emb, (d, x) -> abs(d - x))) AS err")
      .collect()
    assert(rt.nonEmpty)
    rt.foreach { r =>
      val (scale, err) = (r.getDouble(1), r.getDouble(2))
      assert(err <= scale / 2 + 1e-12,
        s"vec ${r.getLong(0)}: err $err exceeds scale/2 ${scale / 2}")
    }
  }

  test("multimodal: payload decode stub is deterministic and total") {
    val df = Multimodal.withPayload(docs.limit(50), "text", "payload")
    val meta = Multimodal.decodeImages(df, "doc_id", "payload")
    val rows = meta.select($"id", $"meta.width", $"meta.height", $"meta.channels",
      $"meta.byte_len").collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getInt(1) >= 32 && r.getInt(1) < 544))
    assert(rows.forall(r => r.getInt(3) == 3))
    // deterministic across runs
    val again = Multimodal.decodeImages(df, "doc_id", "payload")
      .select($"id", $"meta.width").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val first = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(first == again)
  }

  test("cosine LSH near-dups: subset of exact pairs, recall vs exact all-pairs") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("c", Similarity.cosine($"va", $"vb"))
      .filter($"c" >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test vacuous: no near-dup pairs in sample")
    val lsh = Dedup.cosineNearDups(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.4, planesPerTable = 4, tables = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH reported a pair below threshold")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, f"recall collapsed: $recall%.2f (${lsh.size}/${exact.size})")
  }

  test("hot buckets are bounded: boilerplate docs cannot go quadratic") {
    // 30% of docs share identical boilerplate text -> one mega-bucket in
    // every band. With a bucket cap the candidate set must stay linear
    // (star pairs), not C(30,2) per band.
    val boiler = (1 to 60).map(i => s"token$i").mkString(" ")
    val rows = (0L until 100L).map { i =>
      if (i < 30) (i, boiler)
      else (i, (1 to 60).map(j => s"w${i}_$j").mkString(" "))
    }
    val df = rows.toDF("id", "text")
    val capped = Dedup.minhashCandidates(df, "id", "text", maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star pairs: every boilerplate doc connects to the bucket minimum
    assert((1L until 30L).forall(i => capped.contains((0L, i))),
      "cap broke duplicate-cluster connectivity")
    assert(capped.size < 100,
      s"bucket cap failed: ${capped.size} pairs for a 30-doc bucket")
    // without the cap the same bucket yields all C(30,2) intra-bucket pairs
    val uncapped = Dedup.minhashCandidates(df, "id", "text", maxBucket = 64)
      .count()
    assert(uncapped == 435L, s"expected 435 all-pairs, got $uncapped")
  }

  test("duplicate clustering == driver-side union-find; chains converge") {
    // two components {1,2,3,4,5} (a chain, diameter 4) and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // end-to-end: LSH pairs on real docs -> clusters -> one rep per
    // connected set, verified against union-find over the same pairs
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
    val lshPairs = lsh.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    lshPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    val gotReal = Dedup.clusters(lsh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal == want)
    assert(want.nonEmpty, "test vacuous: no near-dup pairs")
  }

  test("clustering matches union-find on random pair graphs") {
    val rnd = new scala.util.Random(3)
    (1 to 3).foreach { trial =>
      val n = 40
      val pairs = (0 until 60).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      val got = Dedup.clusters(pairs.toDF("id_a", "id_b"), maxIter = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial mismatch")
    }
  }

  test("exact dedup groups by content hash yet reports exemplar text; " +
      "NULL keys are unknown, never collapsed into one survivor") {
    val df = Seq((3L, "aa bb"), (1L, "aa bb"), (2L, "cc dd")).toDF("id", "text")
    val got = Dedup.exact(df, "id", "text")
      .collect().map(r => (r.getAs[String]("text"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"))).toSet
    assert(got == Set(("aa bb", 1L, 2L), ("cc dd", 2L, 1L)))
    // xxhash64(null) evaluates to the seed and groupBy treats NULL keys
    // as equal — without the routing, N missing-content rows would
    // collapse to ONE survivor (exactKeepBest's documented trap)
    val withNulls = Seq((1L, "aa"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]), (4L, "aa")).toDF("id", "text")
    val rows = Dedup.exact(withNulls, "id", "text")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
      .toSet
    assert(rows == Set((1L, 2L), (2L, 1L), (3L, 1L)),
      s"NULL keys mishandled: $rows")
  }

  test("checkpoint-root ancestor test: real prefix semantics, not substring") {
    val conf = spark.sparkContext.hadoopConfiguration
    // a bare local root matches the file:-qualified dir Spark reports
    assert(Staging.isUnderRoot("file:/tmp/ck/uuid-1", "/tmp/ck", conf))
    assert(Staging.isUnderRoot("/tmp/ck/uuid-1", "/tmp/ck", conf))
    assert(Staging.isUnderRoot("/tmp/ck", "/tmp/ck", conf))
    // substring false-positives must NOT suppress the repoint
    assert(!Staging.isUnderRoot("file:/tmp/x/ck-old/uuid", "/tmp/ck", conf))
    assert(!Staging.isUnderRoot("file:/other/tmp/ck/uuid", "/tmp/ck", conf))
    // scheme/authority mismatches repoint (the durable-dir promise)
    assert(!Staging.isUnderRoot("file:/ck/uuid", "hdfs://nn/ck", conf))
  }

  test("scrubPii redacts emails and URLs, leaves clean text untouched") {
    val df = Seq(
      (1L, "write to alice.smith+x@sub.example.org today"),
      (2L, "see https://example.com/a?b=1 and http://x.io/p"),
      (3L, "no pii here at all")
    ).toDF("id", "text")
    val got = df.select($"id", TextAnalysis.scrubPii($"text").as("t"),
      TextAnalysis.emailCount($"text").cast("long").as("n")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("write to <EMAIL> today", 1L)))
    assert(got(2L) == (("see <URL> and <URL>", 0L)))
    assert(got(3L) == (("no pii here at all", 0L)))
  }

  test("multimodal: real PNG header decode (pure-JVM byte parsing)") {
    // a real, complete 1x1 RGBA PNG (the canonical minimal transparent png)
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val m = Multimodal.decodeImage(png)
    assert(m.getInt(0) == 1 && m.getInt(1) == 1, s"wrong dims: $m")
    assert(m.getInt(2) == 4, "color type 6 (RGBA) must decode as 4 channels")
    assert(m.getLong(3) == png.length.toLong)
    // a hand-built 640x480 RGB header (decode needs only the IHDR chunk)
    val hdr = java.nio.ByteBuffer.allocate(32)
    hdr.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    hdr.putInt(13).put("IHDR".getBytes).putInt(640).putInt(480)
      .put(8.toByte).put(2.toByte)
    val m2 = Multimodal.decodeImage(hdr.array())
    assert(m2.getInt(0) == 640 && m2.getInt(1) == 480 && m2.getInt(2) == 3)
    // end-to-end through the distributed decode
    val df = Seq((7L, png)).toDF("id", "payload")
    val meta = Multimodal.decodeImages(df, "id", "payload")
      .select($"meta.width", $"meta.height", $"meta.channels").collect()(0)
    assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) == ((1, 1, 4)))
  }

  test("multimodal: real JPEG header decode walks the marker stream") {
    // minimal marker stream: SOI, APP0 (JFIF), then SOF0 with 480x640x3
    val buf = java.nio.ByteBuffer.allocate(64)
    buf.put(0xff.toByte).put(0xd8.toByte) // SOI
    buf.put(0xff.toByte).put(0xe0.toByte).putShort(16) // APP0, len 16
      .put("JFIF".getBytes).put(new Array[Byte](10))
    buf.put(0xff.toByte).put(0xc0.toByte).putShort(17) // SOF0, len 17
      .put(8.toByte).putShort(480).putShort(640).put(3.toByte)
    val m = Multimodal.decodeImage(buf.array())
    assert(m.getInt(0) == 640 && m.getInt(1) == 480 && m.getInt(2) == 3,
      s"wrong jpeg decode: $m")
    // a frameless stream (EOI right after SOI) falls back to the stub
    val bad = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)
    val fb = Multimodal.decodeImage(bad)
    assert(fb.getInt(2) == 3 && fb.getLong(3) == 4L) // stub shape
    // truncated fill-byte run: must fall back, never throw (a malformed
    // payload must not kill a decode task)
    val fill = Array(0xff, 0xd8, 0xff, 0xff, 0xff, 0xff).map(_.toByte)
    assert(Multimodal.decodeImage(fill).getLong(3) == 6L)
    val truncSof = Array(0xff, 0xd8, 0xff, 0xc0, 0x00).map(_.toByte)
    assert(Multimodal.decodeImage(truncSof).getLong(3) == 5L)
  }

  test("multimodal: real GIF/BMP header decode; WAV chunk walk") {
    // GIF89a, 320x200 logical screen (little-endian u16)
    val gif = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    gif.put("GIF89a".getBytes).putShort(320.toShort).putShort(200.toShort)
    val g = Multimodal.decodeImage(gif.array())
    assert(g.getInt(0) == 320 && g.getInt(1) == 200 && g.getInt(2) == 3, s"gif: $g")
    // BMP with BITMAPINFOHEADER: 800x600, 24bpp; negative height = top-down
    def bmp(h: Int, bits: Short) = {
      val b = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).position(14)
      b.putInt(40).putInt(800).putInt(h).putShort(1).putShort(bits)
      b.array()
    }
    val m = Multimodal.decodeImage(bmp(600, 24))
    assert(m.getInt(0) == 800 && m.getInt(1) == 600 && m.getInt(2) == 3, s"bmp: $m")
    val td = Multimodal.decodeImage(bmp(-600, 32))
    assert(td.getInt(1) == 600 && td.getInt(2) == 4, s"top-down bmp: $td")
    // WAV: RIFF/WAVE, fmt(16) stereo 44100 Hz 16-bit, data of 400 bytes
    // => 100 frames (400 / (2ch * 2B))
    val wav = java.nio.ByteBuffer.allocate(44 + 400)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes).putInt(36 + 400).put("WAVE".getBytes)
    wav.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    wav.put("data".getBytes).putInt(400)
    val w = Multimodal.decodeWav(wav.array()).get
    assert(w.getInt(0) == 2 && w.getInt(1) == 44100 && w.getInt(2) == 16, s"wav: $w")
    assert(w.getLong(3) == 100L, s"wrong sample count: $w")
    // malformed payloads: None, never a throw
    assert(Multimodal.decodeWav("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Array[Byte](1, 2, 3)).isEmpty)
    // a truncated data chunk clamps to the real byte count
    val short = java.util.Arrays.copyOf(wav.array(), 44 + 100)
    assert(Multimodal.decodeWav(short).get.getLong(3) == 25L)
    // a junk chunk declaring a near-Int.MaxValue size must not overflow
    // the walk index into a crash — None, never a throw
    val evil = java.nio.ByteBuffer.allocate(100)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes).putInt(92).put("WAVE".getBytes)
    evil.put("junk".getBytes).putInt(Int.MaxValue - 16)
    assert(Multimodal.decodeWav(evil.array()).isEmpty)
    // OS/2 BITMAPCOREHEADER (12-byte DIB, u16 dims): 100x50 at 24bpp —
    // reading it through the info-header offsets would fabricate
    // multi-million-pixel dims that pass the sanity check
    val core = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    core.put('B'.toByte).put('M'.toByte).position(14)
    core.putInt(12).putShort(100).putShort(50).putShort(1).putShort(24)
    val cm = Multimodal.decodeBmp(core.array()).get
    assert(cm.getInt(0) == 100 && cm.getInt(1) == 50 && cm.getInt(2) == 3,
      s"core-header bmp: $cm")
    // an unknown DIB size is rejected (falls to the stub), not misparsed
    val odd = core.array().clone(); odd(14) = 20
    assert(Multimodal.decodeBmp(odd).isEmpty)
    // distributed audio decode: WAV metadata end-to-end, non-WAV zeroed
    val adf = Seq((1L, wav.array()), (2L, "not audio".getBytes),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val am = Multimodal.decodeAudio(adf, "id", "payload")
      .select($"id", $"meta.sample_rate", $"meta.n_samples", $"meta.byte_len")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(am(1L) == ((44100, 100L, (44 + 400).toLong)), s"got ${am(1L)}")
    assert(am(2L) == ((0, 0L, 9L)) && am(3L) == ((0, 0L, 0L)))
  }

  test("multimodal: resize geometry is exact; features are batched + deterministic") {
    // 640x480 RGB PNG header (decode needs only IHDR)
    val hdr = java.nio.ByteBuffer.allocate(32)
    hdr.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    hdr.putInt(13).put("IHDR".getBytes).putInt(640).putInt(480)
      .put(8.toByte).put(2.toByte)
    val rows = Seq((1L, hdr.array()), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val resized = Multimodal.resizeImages(rows, "id", "payload", 100, 100)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5))).toMap
    // fit 640x480 into 100x100: scale = 100/640 = 0.15625 -> 100x75
    assert(resized(1L) == ((640, 480, 100, 75, 0.15625)), s"got ${resized(1L)}")
    assert(resized(2L) == ((0, 0, 0, 0, 0.0)), "null payload must pass through")
    // never upscale: a tiny image keeps its dims at scale 1.0
    val one = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val up = Multimodal.resizeImages(Seq((3L, one)).toDF("id", "payload"),
      "id", "payload", 100, 100).collect()(0)
    assert(up.getInt(3) == 1 && up.getInt(4) == 1 && up.getDouble(5) == 1.0)
    // features: fixed dim, deterministic across layouts and batch sizes,
    // zero vector for missing payloads
    val docs0 = docs.limit(50)
    val payloads = Multimodal.withPayload(docs0, "text", "payload")
    def feats(df: org.apache.spark.sql.DataFrame, bs: Int) =
      Multimodal.extractFeatures(df, "doc_id", "payload", dim = 16, batchSize = bs)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val f1 = feats(payloads, 64)
    assert(f1.values.forall(_.length == 16))
    assert(f1.values.exists(_.exists(_ != 0.0f)), "vacuous: all-zero features")
    // per-component remix: components within one vector differ
    assert(f1.values.forall(v => v.distinct.length > 1))
    assert(feats(payloads.repartition(7), 1) == f1,
      "features changed with layout/batch size")
    val nulls = Seq((9L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload")
    assert(feats(nulls, 8)(9L).forall(_ == 0.0f))
  }

  test("multimodal: real pixel decode + bilinear resample through the JDK imaging stack") {
    // build a REAL 200x100 PNG: left half solid red, right half solid blue
    System.setProperty("java.awt.headless", "true")
    val src = new java.awt.image.BufferedImage(200, 100,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 200; y <- 0 until 100)
      src.setRGB(x, y, if (x < 100) 0xff0000 else 0x0000ff)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", buf)
    val png = buf.toByteArray
    val rows = Seq(
      (1L, png),
      (2L, "not an image at all".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.resampleImages(rows, "id", "payload", 50, 50)
      .collect().map(r => r.getLong(0) -> r).toMap
    // fit 200x100 into 50x50: scale 0.25 -> 50x25, really resampled
    val r1 = got(1L)
    assert((r1.getInt(1), r1.getInt(2), r1.getInt(3), r1.getInt(4)) ==
      ((200, 100, 50, 25)), s"geometry: $r1")
    assert(r1.getDouble(5) == 0.25 && r1.getBoolean(6))
    val outBytes = r1.getAs[Array[Byte]](7)
    assert(outBytes != null && outBytes.nonEmpty)
    // the emitted payload is a decodable PNG with the TRUE output dims
    // and a full pixel buffer
    val out = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(outBytes))
    assert(out.getWidth == 50 && out.getHeight == 25,
      s"re-decoded dims ${out.getWidth}x${out.getHeight}")
    assert(out.getRaster.getWidth * out.getRaster.getHeight == 50 * 25)
    // pixels survived: far-left stays red, far-right stays blue (away
    // from the bilinear blend at the color boundary)
    assert((out.getRGB(2, 12) & 0xffffff) == 0xff0000, "left half not red")
    assert((out.getRGB(47, 12) & 0xffffff) == 0x0000ff, "right half not blue")
    // undecodable payload: stub geometry, no pixels, flagged
    val r2 = got(2L)
    assert(!r2.getBoolean(6) && r2.isNullAt(7))
    assert(r2.getInt(1) > 0 && r2.getInt(3) > 0, "stub geometry missing")
    // missing payload: zeroed pass-through
    val r3 = got(3L)
    assert((r3.getInt(1), r3.getInt(3), r3.getBoolean(6)) == ((0, 0, false))
      && r3.isNullAt(7))
    // the header fast path and the pixel path agree on real-PNG geometry
    val geo = Multimodal.resizeImages(rows.filter($"id" === 1L),
      "id", "payload", 50, 50).collect()(0)
    assert((geo.getInt(1), geo.getInt(2), geo.getInt(3), geo.getInt(4)) ==
      ((200, 100, 50, 25)))
  }

  test("multimodal: frame sample plan explodes the expected frame indices") {
    val vids = Seq((1L, 10L), (2L, 100L)).toDF("vid", "n_frames")
    val plan = Multimodal.frameSamplePlan(vids, "vid", "n_frames", stride = 5, maxFrames = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(plan.filter(_._1 == 1L).map(_._2).toSeq == Seq(0L, 5L))
    assert(plan.filter(_._1 == 2L).map(_._2).toSeq == (0L until 40L by 5L).toSeq)
  }

  test("multimodal: audio chunk plan covers the payload with clamped windows") {
    val clips = Seq((1L, 1000L), (2L, 250L), (3L, 0L)).toDF("cid", "n_samples")
    val plan = Multimodal.audioChunkPlan(clips, "cid", "n_samples",
      chunk = 400, hop = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1000 samples: starts 0,300,600 with ends clamped to 1000
    assert(plan.filter(_._1 == 1L).map(p => (p._2, p._3)).toSeq ==
      Seq((0L, 400L), (300L, 700L), (600L, 1000L)))
    // shorter than one chunk: single clamped window
    assert(plan.filter(_._1 == 2L).map(p => (p._2, p._3)).toSeq == Seq((0L, 250L)))
    // empty payload: no chunks
    assert(!plan.exists(_._1 == 3L))
  }

  test("paragraph dedup keeps global first occurrences and rebuilds in order") {
    val in = Seq(
      (1L, "alpha\n\nbeta\n\ngamma"),
      (2L, "beta\n\ndelta\n\nalpha"),   // beta+alpha already seen
      (3L, "alpha\n\nbeta"),            // everything already seen
      (4L, "epsilon")                   // single paragraph, no delimiter
    ).toDF("doc_id", "text")
    val out = Corpus.paragraphDedup(in, "doc_id", "text", "\n\n")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "alpha\n\nbeta\n\ngamma", 3L),
      (2L, "delta", 1L),
      (3L, "", 0L),
      (4L, "epsilon", 1L)))
    // deterministic across input layout
    val again = Corpus.paragraphDedup(in.repartition(5), "doc_id", "text", "\n\n")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("sequence packing is the exact concat-and-chunk assignment") {
    val in = (0 until 100).map(i => (i.toLong, (i % 37 + 1).toLong))
      .toDF("doc_id", "n_tokens")
    def run(df: DataFrame) = Corpus.packSequences(df, "doc_id", "n_tokens", 50L)
      .orderBy("doc_id").select("doc_id", "n_tokens", "seq_id", "tok_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val packed = run(in)
    var pre = 0L
    packed.foreach { case (_, tok, seqId, off) =>
      assert(seqId == pre / 50 && off == pre % 50,
        s"doc at prefix $pre misassigned: ($seqId, $off)")
      pre += tok
    }
    assert(packed.map(_._3).max > 0, "vacuous: everything fit one sequence")
    // layout-independent
    assert(run(in.repartition(9)).toSeq == packed.toSeq)
  }

  test("token chunking replays the exact window geometry, no shuffle") {
    val in = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens: starts 0,3,6,9 (size 5, stride 3)
      (2L, "x y"),                 // shorter than one window
      (3L, "")                     // empty text -> one empty chunk
    ).toDF("doc_id", "text")
    val out = Corpus.chunkTokens(in, "doc_id", "text", size = 5, stride = 3)
      .orderBy("doc_id", "chunk_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // driver replay of the contract
    val expect = Seq((1L, "a b c d e f g h i j"), (2L, "x y"), (3L, ""))
      .flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        (0 until toks.length by 3).zipWithIndex.map { case (st, i) =>
          val len = math.min(5, toks.length - st)
          (id, i.toLong, st.toLong, len.toLong,
            toks.slice(st, st + len).mkString(" "))
        }
      }
    assert(out.toSeq == expect)
    // trailing partial window present, overlap real
    assert(out.exists(_._4 < 5))
    assert(out.count(_._1 == 1L) == 4)
    // one narrow pass: no exchange anywhere in the plan
    val plan = Corpus.chunkTokens(in, "doc_id", "text", 5, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking should not shuffle:\n$plan")
    // NULL text behaves like empty text: the doc keeps its one empty
    // chunk instead of vanishing through a null generator
    val nullDoc = Seq((9L, null: String)).toDF("doc_id", "text")
    val nullOut = Corpus.chunkTokens(nullDoc, "doc_id", "text", 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getString(4)))
    assert(nullOut.toSeq == Seq((9L, 1L, "")),
      s"null text must yield one empty chunk, got ${nullOut.toSeq}")
  }

  test("incremental minhash == full recompute, restricted to new-touching pairs") {
    // seed-unique tokens: different seeds share NO tokens, so the only
    // near-dup structure is the planted one
    def sentence(seed: Int): String =
      (0 until 20).map(i => s"t${seed}x$i").mkString(" ")
    def perturb(s: String, n: Int): String = {
      val t = s.split(" "); (0 until n).foreach(i => t(t.length - 1 - i) = s"x$i")
      t.mkString(" ")
    }
    // old corpus: 20 distinct docs; delta: near-dups of old docs (ids
    // 101-104), a within-batch dup pair (105, 106), novel docs (107-109)
    val old = (1 to 20).map(i => (i.toLong, sentence(i)))
    val nw = Seq(
      101L -> perturb(sentence(3), 2), 102L -> perturb(sentence(7), 1),
      103L -> sentence(11), 104L -> perturb(sentence(11), 3),
      105L -> sentence(500), 106L -> perturb(sentence(500), 2),
      107L -> sentence(600), 108L -> sentence(700), 109L -> sentence(800))
    val index = Dedup.minhashIndex(old.toDF("doc_id", "text"), "doc_id", "text")
    val inc = Dedup.minhashIncrementalNearDups(index,
        nw.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .toSet
    val newIds = nw.map(_._1).toSet
    val full = Dedup.minhashNearDups((old ++ nw).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
      .filter(p => newIds.contains(p._1) || newIds.contains(p._2))
      .toSet
    assert(inc == full, s"incremental $inc\nfull-restricted $full")
    // the planted structure is actually exercised: cross pairs AND a
    // within-batch pair exist, novel docs match nothing
    assert(inc.exists(p => p._1 <= 20 && newIds.contains(p._2)), "no cross pair")
    assert(inc.exists(p => p._1 == 105L && p._2 == 106L),
      "within-batch pair (105,106) missing")
    assert(!inc.exists(p => p._1 == 108L || p._2 == 108L), "novel doc matched")
  }

  test("minhash md5 mode: index driver-replayed bit for bit on edge docs") {
    // the DuckDB oracle replays minhashIndexMd5 in SQL; this pins the
    // same construction against an independent driver-side replica on
    // the edge shapes (short/empty/null text, regex whitespace, unicode,
    // duplicate shingles) — sh is DISTINCT-sorted first halves, sig the
    // min over ALL shingle occurrences of the affine rehash
    val texts = Seq[(Long, String)](
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "one two", // < k tokens -> whole text as ONE shingle
      3L -> "", // empty -> [""] shingle
      4L -> "  padded   whitespace\ttokens  ", // trim + \s+ split
      5L -> "répété répété répété répété", // non-ASCII + duplicate shingles
      6L -> null)
    val got = Dedup.minhashIndexMd5(texts.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toVector, r.getSeq[Long](2).toVector))).toMap
    def halves(s: String): (Long, Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      def h(off: Int): Long =
        (0 until 4).foldLeft(0L)((a, i) => (a << 8) | (d(off + i) & 0xffL))
      (h(0), h(4))
    }
    for ((id, text0) <- texts) {
      val toks = Option(text0).getOrElse("").trim.toLowerCase.split("\\s+").toSeq
      val shingleStrs =
        if (toks.length < 3) Seq(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      val hs = shingleStrs.map(halves)
      val expSh = hs.map(_._1).distinct.sorted.toVector
      val expSig = (0 until 32).map(i =>
        hs.map { case (a, b) => (a + i * b) % 4294967296L }.min).toVector
      assert(got(id) == ((expSh, expSig)), s"md5 minhash drift: doc $id")
    }
    // the planted duplicate-shingle doc really collapses to one hash
    assert(got(5L)._1.length == 1)
  }

  test("md5 oracle mode == xxhash mode on the real corpus and incrementally") {
    // the oracle-checked queries run the md5-replayable pipeline; the
    // production default stays xxhash64. Same banding geometry + exact
    // verify means both modes emit the same PAIRS wherever the corpus'
    // duplicates are clear-cut (all test-corpus dups sit far above the
    // band S-curve's crossover; a borderline-jaccard pair could
    // legitimately differ between hash families)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((bands, rows, thr) <- Seq((8, 4, 0.5), (16, 2, 0.3))) {
      val xx = pairs(Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = thr, bands = bands, rows = rows))
      val md = pairs(Dedup.minhashNearDupsMd5(docs, "doc_id", "text",
        threshold = thr, bands = bands, rows = rows))
      assert(md == xx, s"md5/xxhash pair drift at ${bands}x$rows: " +
        s"md5-only ${md -- xx}, xxhash-only ${xx -- md}")
      assert(md.nonEmpty, "test vacuous: no pairs found")
    }
    // incremental md5 == full md5 restricted to new-touching pairs, with
    // jaccard compared EXACTLY (same md5 pipeline both sides — the same
    // contract the DuckDB oracle hash-checks)
    val newIds = docs.filter($"doc_id" % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val index = Dedup.minhashIndexMd5(
      docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text")
    def canon(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val inc = canon(Dedup.minhashIncrementalNearDupsMd5(index,
      docs.filter($"doc_id" % 10 === 0), "doc_id", "text", threshold = 0.5))
    val full = canon(Dedup.minhashNearDupsMd5(docs, "doc_id", "text",
        threshold = 0.5))
      .filter(p => newIds.contains(p._1) || newIds.contains(p._2))
    assert(inc == full, s"incremental $inc\nfull-restricted $full")
  }

  test("feature-hashing embeddings: unit norm, deterministic, cosine contracts") {
    val in = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // 7/8 shared
      (4L, "qq ww ee rr tt yy uu ii"),                       // disjoint
      (5L, "")                                               // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.hashEmbed(in, "doc_id", "text", dim = 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(out.values.forall(_.length == 32))
    def norm(v: Vector[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    def cos(a: Vector[Float], b: Vector[Float]) =
      a.zip(b).map(p => p._1.toDouble * p._2).sum
    (1L to 4L).foreach(id =>
      assert(math.abs(norm(out(id)) - 1.0) < 1e-5, s"doc $id not unit-norm"))
    assert(norm(out(5L)) == 0.0, "empty doc should embed to zero")
    assert(out(1L) == out(2L), "identical texts must embed identically")
    assert(cos(out(1L), out(3L)) > 0.7, "near-dup text should score high")
    assert(math.abs(cos(out(1L), out(4L))) < 0.7,
      "disjoint text should score low")
    // layout-independent
    val again = TextAnalysis.hashEmbed(in.repartition(7), "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(again == out)
  }

  test("hashEmbedMd5: driver-replayed bit for bit; mode-shared contracts") {
    // the oracle-checked q_text_embed_neardup builds its vectors in md5
    // mode; this replays the whole vector construction driver-side (md5
    // slot/sign, ±1 slot sums, ascending-fold norm, float round) and pins
    // the contracts both hash modes share
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "alpha beta gamma delta epsilon zeta eta iota",
      5L -> "")
    val in = texts.toDF("doc_id", "text")
    val dim = 32
    for (n <- Seq(1, 2)) {
      val got = TextAnalysis.hashEmbedMd5(in, "doc_id", "text", dim, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
      def feats(t: String): Seq[String] = {
        val toks = t.trim.toLowerCase.split("\\s+").toSeq
        if (n == 1) toks.filter(_.nonEmpty)
        else if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      }
      def vecOf(t: String): Vector[Float] = {
        val raw = new Array[Double](dim)
        for (f <- feats(t)) {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(f.getBytes("UTF-8"))
          def half(off: Int): Long =
            (0 until 4).foldLeft(0L)((a, i) => (a << 8) | (d(off + i) & 0xffL))
          raw((half(0) % dim).toInt) += (if (half(4) % 2 == 0) 1.0 else -1.0)
        }
        val nrm = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x * x))
        raw.map(x => (if (nrm == 0.0) 0.0 else x / nrm).toFloat).toVector
      }
      for ((id, t) <- texts)
        assert(got(id) == vecOf(t), s"md5 vector drift: n=$n doc $id")
      assert(got(1L) == got(2L), "identical texts must embed identically")
      assert(got(5L).forall(_ == 0.0f), "empty doc should embed to zero")
    }
  }

  test("hashEmbed kernel == relational reference, byte for byte") {
    // the one-pass HashEmbedVector kernel replaced the explode + two-
    // shuffle formulation; the contract is BIT-identical output (integral
    // ±1 sums are order-exact, same ascending-fold norm, same XXH64
    // calls). Real corpus + edge rows (null text, empty, whitespace-only,
    // repeated tokens), unigram and bigram features.
    val real = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edges = Seq[(java.lang.Long, String)](
      (9001L, null), (9002L, ""), (9003L, "   "),
      (9004L, "dup dup dup dup"), (9005L, "Mixed CASE mixed case"))
      .toDF("doc_id", "text")
    val in = real.unionByName(edges)
    // both hash modes ride the same kernel/reference contract
    val pairs = Seq[(String, (org.apache.spark.sql.DataFrame, String, String, Int, Int) => org.apache.spark.sql.DataFrame, (org.apache.spark.sql.DataFrame, String, String, Int, Int) => org.apache.spark.sql.DataFrame)](
      ("xxh64", TextAnalysis.hashEmbed(_, _, _, _, _),
        TextAnalysis.hashEmbedReference(_, _, _, _, _)),
      ("md5", TextAnalysis.hashEmbedMd5(_, _, _, _, _),
        TextAnalysis.hashEmbedMd5Reference(_, _, _, _, _)))
    for ((mode, kernel, reference) <- pairs; n <- Seq(1, 2)) {
      val got = kernel(in, "doc_id", "text", 64, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
      val ref = reference(in, "doc_id", "text", 64, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
      assert(got.keySet == ref.keySet, s"$mode n=$n id sets differ")
      val bad = got.keys.filter(id => got(id) != ref(id))
      assert(bad.isEmpty,
        s"$mode n=$n kernel diverges from reference for docs ${bad.take(5).toList}")
    }
  }

  test("shingleHashes kernel == relational reference, byte for byte") {
    // the byte-level ShingleHashes kernel replaced the lower/trim/regex-
    // split/zip_with-concat/xxhash64/distinct/sort chain; bit-identical
    // output is the contract (it also keeps pre-swap minhashIndex parquet
    // stores readable). Real corpus + the tokenizer's edge semantics:
    // null, empty, all-whitespace, tab/newline separators (trim only
    // strips 0x20, so these produce Java split's leading/trailing empty
    // tokens), fewer-than-k tokens, uppercase + non-ASCII for the
    // UTF8String lowercasing, repeated shingles for the dedup.
    val real = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val edges = Seq[(java.lang.Long, String)](
      (9001L, null), (9002L, ""), (9003L, "   "), (9004L, "\t"),
      (9005L, "one"), (9006L, "one two"), (9007L, "a b c a b c a b c"),
      (9008L, "\tleading tab and trailing\t"),
      (9009L, "line\nbreaks\nsplit\ntokens"),
      (9010L, "Mixed CASE ÄÖÜ Straße ΣΟΦΙΑ"))
      .toDF("doc_id", "text")
    val in = real.unionByName(edges)
    for (k <- Seq(1, 3, 5)) {
      val got = in.select(col("doc_id"),
          Dedup.shingleHashes(col("text"), k).as("sh"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toVector)).toMap
      val ref = in.select(col("doc_id"),
          Dedup.shingleHashesReference(col("text"), k).as("sh"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toVector)).toMap
      assert(got.keySet == ref.keySet, s"k=$k id sets differ")
      val bad = got.keys.filter(id => got(id) != ref(id))
      assert(bad.isEmpty,
        s"k=$k kernel diverges for docs ${bad.take(5).toList}: " +
          bad.take(2).map(id => s"$id got=${got(id)} ref=${ref(id)}").mkString("; "))
    }
  }

  test("LM perplexity == driver bigram model replay") {
    val docs = Seq(
      (1L, "the cat sat"),          // common bigrams
      (2L, "the cat sat the cat"),  // repeats boost counts
      (3L, "zq xv"),                // vocabulary soup -> highest NLL
      (4L, "one"),                  // single token: no bigram, absent
      (5L, "")                      // empty: absent
    )
    val out = TextAnalysis.lmPerplexity(docs.toDF("doc_id", "text"),
        "doc_id", "text", alpha = 0.4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // driver replay
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    }
    val bigrams = toks.flatMap { case (id, t) =>
      t.sliding(2).filter(_.length == 2).map(p => (id, p.mkString(" ")))
    }
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c1 = toks.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val v = c1.size
    def nll(bg: String): Double = {
      val w1 = bg.split(" ")(0)
      val p = (c2(bg) + 0.4) / (c1(w1) + 0.4 * v)
      BigDecimal(-math.log(p) / math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = bigrams.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (id, bgs) =>
        val terms = bgs.map(b => nll(b._2))
        // decimal-exact sum of the rounded addends, then one division
        val sum = terms.map(BigDecimal(_)).sum.toDouble
        (id, bgs.size.toLong, sum / bgs.size)
    }
    assert(out.length == expect.length && out.toSeq.zip(expect).forall {
      case ((i1, n1, s1), (i2, n2, s2)) =>
        i1 == i2 && n1 == n2 && math.abs(s1 - s2) < 1e-12
    }, s"got ${out.toSeq}\nexpected $expect")
    // ordering sanity: gibberish scores strictly worse than common text
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(3L) > byId(1L) && byId(3L) > byId(2L),
      s"vocabulary soup should score highest: $byId")
    // sub-2-token docs are absent
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
  }

  test("inverted index == driver posting-list build") {
    val in = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "The cat ran"),        // case folds into doc 1's "the"/"cat"
      (3L, "  mat   the mat "),   // whitespace runs, repeated term
      (4L, "")                    // empty doc contributes nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.invertedIndex(in, "doc_id", "text", minDf = 2L)
      .orderBy("term", "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // driver replay
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "The cat ran"),
      (3L, "  mat   the mat "), (4L, ""))
    val postings = docs.flatMap { case (id, text) =>
      text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
        .zipWithIndex.groupBy(_._1).toSeq
        .map { case (t, occ) =>
          (t, id, occ.length.toLong, occ.map(_._2).min.toLong)
        }
    }
    val df_ = postings.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expect = postings.filter(p => df_(p._1) >= 2)
      .map(p => (p._1, p._2, p._3, p._4, df_(p._1)))
      .sortBy(p => (p._1, p._2))
    assert(out.toSeq == expect)
    // "the" has tf 2, first_pos 0, df 3; "sat" (df 1) is dropped
    assert(out.exists(p => p._1 == "the" && p._2 == 1L && p._3 == 2L &&
      p._4 == 0L && p._5 == 3L))
    assert(!out.exists(_._1 == "sat"))
  }

  test("survivor-policy dedup keeps the preferred copy per key") {
    val in = Seq(
      // key "k1": three copies differing in score and id
      (1L, "k1", 10, "a"), (2L, "k1", 30, "b"), (3L, "k1", 30, "c"),
      // key "k2": single copy passes through
      (4L, "k2", 5, "d")
    ).toDF("doc_id", "key", "score", "payload")
    val out = Dedup.exactKeepBest(in, "key",
        Seq(col("score").desc, col("doc_id").asc))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    // k1: max score 30, tie between ids 2 and 3 -> lowest id 2
    assert(out.toSeq == Seq((2L, "b"), (4L, "d")))
    // full input schema survives
    assert(Dedup.exactKeepBest(in, "key", Seq(col("doc_id"))).columns.toSeq ==
      in.columns.toSeq)
    // layout-independent
    val again = Dedup.exactKeepBest(in.repartition(7), "key",
        Seq(col("score").desc, col("doc_id").asc))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(again.toSeq == out.toSeq)
    // NULL keys are unknown, not equal: every null-key row survives
    val withNulls = Seq((1L, "k", 1, "a"), (2L, null, 1, "b"),
      (3L, null, 1, "c")).toDF("doc_id", "key", "score", "payload")
    val nullOut = Dedup.exactKeepBest(withNulls, "key", Seq(col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(nullOut.toSeq == Seq(1L, 2L, 3L),
      s"null-key rows must pass through, got ${nullOut.toSeq}")
  }

  test("decontamination flags planted n-gram overlap, spares clean docs") {
    val benchText = "one two three four five six seven eight nine ten"
    val bench = Seq((100L, benchText), (101L, "tiny doc")).toDF("doc_id", "text")
    val train = Seq(
      // contains benchmark 8-gram "two three ... nine" inside other text
      (1L, "xx two three four five six seven eight nine yy"),
      (2L, "completely different words with no overlap at all here today"),
      // short bench doc caught via whole-text gram
      (3L, "tiny doc"),
      (4L, "tiny docs are fine when not verbatim copies of bench")
    ).toDF("doc_id", "text")
    val hits = Corpus.decontaminationHits(train, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L, 3L), s"wrong contamination set: $hits")
    assert(hits(1L) == 1L && hits(3L) == 1L)
    val clean = Corpus.decontaminate(train, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 4L))
  }

  test("repeated spans == driver-side n-gram recount over the real corpus") {
    val n = 8
    val sample = docs.filter($"doc_id" < 200)
    val got = Corpus.repeatedSpans(sample, "doc_id", "text", n = n, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: tokenize exactly like spanTokens, count every n-gram
    val driver = sample.select("doc_id", "text").collect().flatMap { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      toks.sliding(n).filter(_.length == n)
        .map(g => (r.getLong(0), g.mkString(" "))).toSeq
    }
    val want = driver.groupBy(_._2).map { case (span, occ) =>
      (span, occ.map(_._1).distinct.length.toLong, occ.length.toLong)
    }.filter(_._2 >= 2).toSet
    assert(got == want, s"span mismatch: ${(got diff want).take(3)} vs ${(want diff got).take(3)}")
    assert(got.nonEmpty, "test vacuous: no repeated spans in sample")
    // docs shorter than n tokens contribute nothing (no partial grams)
    val short = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Corpus.repeatedSpans(short, "doc_id", "text", n = 8).count() == 0)
    // within-one-doc repeats don't cross the minDocs bar but do count occ
    val selfRep = Seq(
      (1L, Seq.fill(3)("x1 x2 x3 x4 x5 x6 x7 x8").mkString(" q ")),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 trailer")).toDF("doc_id", "text")
    val spans = Corpus.repeatedSpans(selfRep, "doc_id", "text", n = 8, minDocs = 2)
      .filter($"span" === "x1 x2 x3 x4 x5 x6 x7 x8")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((2L, 4L)), s"got ${spans.toSeq}")
  }

  test("semantic dedup: pairs == brute force within cells; kept set is dup-free") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val t = 0.4
    val centroids = Similarity.trainCentroids(emb, "embedding", k = 8)
    val cells = Similarity.assignCells(emb, "embedding", centroids)
      .select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val exact = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("c", Similarity.cosine($"va", $"vb")).filter($"c" >= t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantPairs = exact.filter { case (x, y) => cells(x) == cells(y) }
    val gotPairs = Dedup.semanticNearDups(emb, "vec_id", "embedding",
      k = 8, threshold = t)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == wantPairs,
      s"within-cell pair mismatch: ${(gotPairs diff wantPairs).take(3)} / ${(wantPairs diff gotPairs).take(3)}")
    assert(wantPairs.nonEmpty, "test vacuous: no within-cell near-dup pairs")
    // the policy drops exactly the ids with a smaller within-cell neighbor
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding", k = 8, threshold = t)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val wantDropped = wantPairs.map(_._2)
    assert(kept == cells.keySet -- wantDropped)
    // no surviving same-cell pair is above threshold
    assert(!wantPairs.exists { case (x, y) => kept(x) && kept(y) })
  }

  test("prep: group-mean imputation and z-scores match driver arithmetic") {
    val df = Seq[(String, java.lang.Double)](
      ("a", 2.0), ("a", 4.0), ("a", null), ("b", 10.0), ("b", null),
      ("c", null)).toDF("g", "v")
    val filled = Prep.imputeWithGroupMean(df, "v", Seq("g"))
      .collect().map(r => (r.getString(0), Option(r.get(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    // group a mean = 3.0; singleton non-null group b fills 10.0; all-null
    // group c keeps its null (no cross-group invention)
    assert(filled.collect { case ("a", None, f) => f }.flatten.toSeq == Seq(3.0))
    assert(filled.collect { case ("b", None, f) => f }.flatten.toSeq == Seq(10.0))
    assert(filled.collect { case ("c", _, f) => f }.head.isEmpty)
    // z-scores: exact moments vs direct arithmetic on a known group
    val zdf = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 10.0),
      ("b", 5.0)).toDF("g", "v")
    val zs = Prep.zScores(zdf, "v", Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    val xs = Seq(1.0, 2.0, 3.0, 10.0)
    val mu = xs.sum / 4
    val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / 3)
    xs.foreach { x =>
      val want = BigDecimal((x - mu) / sd)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(zs.contains(("a", x, Some(want))), s"z for $x: got $zs")
    }
    // singleton group: no z defined
    assert(zs.contains(("b", 5.0, None)))
    // NULL group keys: rows keep their row (null-safe join), grouped with
    // the NULL group's own mean — not silently dropped
    val ndf = Seq[(String, java.lang.Double)](
      (null, 6.0), (null, 8.0), (null, null), ("a", 1.0)).toDF("g", "v")
    val nfilled = Prep.imputeWithGroupMean(ndf, "v", Seq("g"))
      .collect().map(r => (Option(r.getString(0)), Option(r.get(1)),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(nfilled.length == 4, s"null-group rows dropped: ${nfilled.toSeq}")
    assert(nfilled.collect { case (None, None, f) => f }.flatten.toSeq == Seq(7.0))
    val nz = Prep.zScores(ndf, "v", Seq("g"))
    assert(nz.count() == 4, "zScores dropped null-group rows")
    assert(nz.filter($"g".isNull && $"z_r".isNotNull).count() == 2)
  }

  test("BPE encode: lowest-rank pair merges ALL occurrences per step " +
      "(the contract q_bpe_encode's replace()-based oracle replays)") {
    // ranks: (ab,a)=0, (a,b)=1. On 'abab', all-occurrence merging of the
    // present lowest-rank pair (a,b) yields [ab, ab] in ONE step — a
    // one-occurrence-at-a-time scheme would instead create (ab,a) after
    // the first merge, whose LOWER rank would then win and produce
    // [aba, b]. Pin the all-occurrence semantics; DuckDB's replace()
    // (left-to-right, non-overlapping, never rescanning emitted output)
    // matches it exactly.
    val m = Bpe.Model(Seq(("ab", "a"), ("a", "b")))
    assert(Bpe.encodeWord("abab", m) == Seq("ab", "ab", Bpe.EndOfWord),
      "all-occurrence-per-step merge contract broken")
    // hand-checked rank-priority inversion from the q_bpe_encode literal
    // table: in 'order', (e,r) rank0 fires before (o,r) rank3 despite
    // position, and (er,</w>) completes the suffix
    val lit = Bpe.Model(Seq(("e", "r"), ("er", "</w>"), ("t", "h"),
      ("o", "r")))
    assert(Bpe.encodeWord("order", lit) == Seq("or", "d", "er</w>"))
  }

  test("BPE: hand-checked merges, train/encode parity, layout determinism") {
    val corpus = Seq((1L, "low low low low low"), (2L, "lower lower widest"),
      (3L, "newest newest newest widest low")).toDF("doc_id", "text")
    val m = Bpe.train(corpus, "text", numMerges = 5, minCount = 1)
    // pair counts: (l,o) = (o,w) = 8 -> lexicographic tie-break picks (l,o),
    // after which (lo,w) = 8 dominates
    assert(m.merges.head == (("l", "o")), s"got ${m.merges}")
    assert(m.merges(1) == (("lo", "w")))
    // encoding parity: every corpus word's encoding == replaying the
    // training merge sequence over that word
    val words = corpus.select(explode(Corpus.spanTokens($"text")))
      .distinct().collect().map(_.getString(0))
    words.foreach { w =>
      var syms = w.map(_.toString).toArray :+ Bpe.EndOfWord
      m.merges.foreach(p => syms = Bpe.mergePair(syms, p))
      assert(Bpe.encodeWord(w, m) == syms.toSeq, s"parity broken for '$w'")
    }
    // real corpus: tokenization is lossless (subwords concatenate back to
    // the marker-terminated words) and training is layout-independent
    val docs0 = docs.limit(100)
    val model = Bpe.train(docs0, "text", numMerges = 32)
    assert(model.merges.length == 32)
    val toks = Bpe.tokenize(docs0, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val raw = docs0.select($"doc_id", Corpus.spanTokens($"text").as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    raw.foreach { case (id, ws) =>
      assert(toks(id).mkString == ws.map(_ + Bpe.EndOfWord).mkString,
        s"lossy tokenization for doc $id")
    }
    assert(toks.values.exists(_.exists(sw => sw.length > 2)),
      "vacuous: no multi-char subwords learned")
    val again = Bpe.train(docs0.repartition(7), "text", numMerges = 32)
    assert(again.merges == model.merges, "training depends on layout")
  }

  test("BPE incremental merge learning == full-recount reference; production vocab fast") {
    // parity on a real corpus-derived word-frequency table, deep enough
    // that ties, pair exhaustion inside words, and repeated-pair words
    // all occur
    val words = docs.limit(400)
      .select(explode(Corpus.spanTokens($"text")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(3000)
      .collect().map(r => (r.getString(0).map(_.toString).toArray :+ Bpe.EndOfWord,
        r.getLong(1)))
    val inc = Bpe.learnMerges(words, 300)
    val ref = Bpe.learnMergesRecount(words, 300)
    assert(inc == ref, s"incremental diverges from recount at merge ${
      inc.zip(ref).indexWhere { case (a, b) => a != b }}")
    // pair exhaustion: both stop early and agree when pairs run dry
    val tiny = Array((Array("a", "b", Bpe.EndOfWord), 3L))
    assert(Bpe.learnMerges(tiny, 100) == Bpe.learnMergesRecount(tiny, 100))
    // production-scale merge count is driver-feasible now: 2048 merges
    // over a 50k-word vocab in seconds, not hours (the recount
    // formulation is O(rounds·vocab·len) and would take minutes here).
    // The testdata corpus has a 31-word vocabulary, so the production
    // vocab is synthesized: seeded zipfian-count random words — exactly
    // the word-frequency-table shape `train` collects from a real corpus
    val rnd = new scala.util.Random(42)
    val full = (0 until 50000).map { i =>
      val len = 3 + rnd.nextInt(10)
      val w = Array.fill(len)(('a' + rnd.nextInt(26)).toChar.toString)
      (w :+ Bpe.EndOfWord, (50000L / (i + 1)).max(1L))
    }.toArray
    val t0 = System.nanoTime()
    val (big, touched) = Bpe.learnMergesStats(full, 2048)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"2048 merges over ${full.length} words in $sec%.2fs, " +
      f"touched $touched words (${touched * 100.0 / (2048L * full.length)}%.2f%% of rounds x vocab)")
    assert(big.length == 2048, s"expected 2048 merges, got ${big.length}")
    assert(sec < 120.0, f"incremental trainer too slow: $sec%.1fs")
    // the regression guard for the 32k-merge production budget (SCALE.md):
    // incremental bookkeeping touches only words containing the merged
    // pair — a small fraction of rounds x vocab. A regression to
    // all-words-per-round bookkeeping makes touched == rounds x vocab
    // (100%) and fails this deterministically, storms or not.
    assert(touched < 2048L * full.length / 10,
      s"incremental property lost: touched $touched of ${2048L * full.length} word-visits")
  }

  test("funnel == driver-side greedy subsequence match over real events") {
    val ev = graft.queries.Tables.events(spark, dir)
    val steps = Seq("view", "click", "purchase")
    val got = Funnel.deepestStep(ev, "user_id", "event_id", "event_type", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver recount: sort by event_id, greedy in-order advance
    val want = ev.select("user_id", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (u, rows) =>
        var stage = 0
        rows.sortBy(_._2).foreach { case (_, _, t) =>
          if (stage < steps.length && t == steps(stage)) stage += 1
        }
        u -> stage
      }
    assert(got == want, "deepest-step fold diverged from driver recount")
    assert(got.values.exists(_ == steps.length), "vacuous: nobody converted")
    // (every sf0.001 user converts — the synthetic case below pins the
    // non-converting and out-of-order paths)
    // report is the cumulative reached-at-least table
    val rep = Funnel.report(ev, "user_id", "event_id", "event_type", steps)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    steps.indices.foreach { i =>
      val k = i + 1
      assert(rep(i) == ((k, steps(i), want.values.count(_ >= k).toLong)))
    }
    // out-of-order events never count: click before any view
    val synth = Seq((1L, 1L, "click"), (1L, 2L, "view"), (2L, 3L, "view"),
      (2L, 4L, "click")).toDF("u", "o", "t")
    val d = Funnel.deepestStep(synth, "u", "o", "t", Seq("view", "click"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 1, 2L -> 2), s"ordering not enforced: $d")
    // plan: ONE keyed shuffle (the user groupBy), fold stays a codegen'd
    // expression — no window, no second exchange
    val plan = Funnel.deepestStep(ev, "user_id", "event_id", "event_type", steps)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"funnel should shuffle once:\n${plan.take(1000)}")
    assert(!plan.contains("Window"), "funnel must not plan a window")
  }

  test("windowed funnel == driver recount with greedy first anchor") {
    val ev = graft.queries.Tables.events(spark, dir)
    val steps = Seq("view", "click", "purchase")
    val windowUs = 3L * 86400L * 1000000L
    val got = Funnel.deepestStepWindowed(ev, "user_id",
        unix_micros($"ts"), "event_type", steps, windowUs)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver recount: sort by micros, greedy advance, anchor = first view,
    // later steps only within the window of the anchor
    val want = ev.selectExpr("user_id", "unix_micros(ts) AS o", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (u, rows) =>
        var stage = 0
        var anchor = 0L
        rows.sortBy(r => (r._2, r._3)).foreach { case (_, o, t) =>
          if (stage == 0 && t == steps.head) { stage = 1; anchor = o }
          else if (stage > 0 && stage < steps.length && t == steps(stage) &&
            o <= anchor + windowUs) stage += 1
        }
        u -> stage
      }
    assert(got == want, "windowed fold diverged from driver recount")
    // the bound must BITE on this data: strictly fewer full conversions
    // than the unwindowed funnel, but not zero
    val unbounded = Funnel.deepestStep(ev, "user_id", "event_id",
        "event_type", steps)
      .collect().map(_.getInt(1))
    val full = got.values.count(_ == steps.length)
    assert(full > 0, "vacuous: window blocks everyone")
    assert(full < unbounded.count(_ == steps.length),
      "vacuous: window blocks nobody")
    // synthetic pin: the anchor is the FIRST view (greedy, no re-anchor)
    // — u1's purchase@105 is within window of its second view@90 but not
    // of the first view@0 (window 100), so it must NOT count; u2
    // converts inside the window
    val synth = Seq(
      (1L, 0L, "view"), (1L, 90L, "view"), (1L, 95L, "click"), (1L, 105L, "purchase"),
      (2L, 0L, "view"), (2L, 5L, "click"), (2L, 9L, "purchase")).toDF("u", "o", "t")
    val d = Funnel.deepestStepWindowed(synth, "u", col("o"), "t", steps, 100L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 2, 2L -> 3), s"greedy anchor broken: $d")
  }

  test("rule validation: NULL predicates count as violations, one-scan plan") {
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 10.0), (2L, -5.0), (3L, null), (null, 20.0))
      .toDF("id", "price")
    val got = Checks.ruleViolations(df, Seq(
      "id_nonnull" -> $"id".isNotNull,
      "price_positive" -> ($"price" > 0))) // NULL price -> unknown -> violation
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("id_nonnull" -> 1L, "price_positive" -> 2L), s"got $got")
    // single aggregate pass: no join, one final-agg exchange at most
    val plan = Checks.ruleViolations(df, Seq("a" -> $"id".isNotNull,
      "b" -> ($"price" > 0))).queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), "rule counting must not join")
    // FK check: planted orphans counted, NULL keys excluded
    val child = Seq[(Long, java.lang.Long)]((1L, 10L), (2L, 99L), (3L, null))
      .toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val fkv = Checks.fkViolations(child, "fk", parent, "pk")
      .collect()(0).getLong(0)
    assert(fkv == 1L, s"expected 1 orphan, got $fkv")
    // duplicate rule names fail fast
    intercept[IllegalArgumentException] {
      Checks.ruleViolations(df, Seq("x" -> lit(true), "x" -> lit(false)))
    }
    // empty input reports ZERO violations, not NULL (sum over no rows)
    val empty = Checks.ruleViolations(df.filter(lit(false)),
      Seq("id_nonnull" -> $"id".isNotNull)).collect()(0)
    assert(!empty.isNullAt(1) && empty.getLong(1) == 0L)
    // rule names with regex backslashes and quotes survive the generated
    // stack() literal verbatim
    val names = Checks.ruleViolations(df,
      Seq("""matches \d+""" -> lit(true), "it's fine" -> lit(true)))
      .collect().map(_.getString(0)).toSet
    assert(names == Set("""matches \d+""", "it's fine"), s"got $names")
  }

  test("semantic dedup leaves no cached plans or stranded blocks") {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.semanticNearDups(emb, "vec_id", "embedding", k = 8,
      threshold = 0.4)
    assert(pairs.count() >= 0)
    assert(spark.sharedState.cacheManager.isEmpty, "cached plans left behind")
    assert(spark.sparkContext.getPersistentRDDs.size <= 1,
      "stranded intermediate blocks")
    Staging.free(pairs)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("ngram contamination: exact recomputation, planted hits, disjoint " +
      "negatives, xx == md5 mode") {
    // corpus: probe texts, verbatim copies (must be flagged with
    // n_shared == the probe's full shingle-set size), partial overlaps,
    // and disjoint-vocabulary fillers (must never be flagged)
    val probeText = "alpha beta gamma delta epsilon zeta eta theta"
    val partial = "alpha beta gamma delta NOPE mu nu xi omicron pi"
    val corpus = Seq(
      (0L, probeText), // probe (id % 5 == 0)
      (1L, probeText), // verbatim copy -> flagged
      (2L, partial), // shares shingles "alpha beta gamma"/"beta gamma delta"
      (3L, "one two three four five six seven eight"), // disjoint
      (5L, "completely different words here entirely distinct tokens"), // probe 2
      (6L, "completely different words here entirely distinct tokens"), // copy of probe 2
      (7L, "unrelated filler row nothing shared with anything else")
    ).toDF("doc_id", "text")
    val probes = corpus.filter(col("doc_id") % 5 === 0)

    def run(md5Mode: Boolean): Map[(Long, Long), Long] =
      Corpus.ngramContamination(corpus, probes, "doc_id", "text",
          "doc_id", "text", k = 3, minShared = 2, md5Mode = md5Mode)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap

    // independent exact recomputation over string shingle sets
    def sh(t: String): Set[String] =
      t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (for {
      p <- Seq(0L, 5L); d <- texts.keys if d != p
      shared = (sh(texts(p)) & sh(texts(d))).size.toLong if shared >= 2
    } yield (p, d) -> shared).toMap

    val xx = run(md5Mode = false)
    val md = run(md5Mode = true)
    assert(xx == want, s"xx diverged: got $xx want $want")
    assert(md == want, "md5 mode diverged from the exact recomputation")
    // the planted verbatim copies carry the full shingle-set overlap
    assert(xx((0L, 1L)) == sh(probeText).size)
    assert(xx((5L, 6L)) == sh(texts(5L)).size)
    // disjoint docs never flagged
    assert(!xx.keys.exists { case (_, d) => d == 3L || d == 7L })

    // cross-dataset id spaces: excludeSelf = false keeps a coincidental
    // id collision — here "probe 0" from an independent benchmark whose
    // text matches corpus doc 0 — instead of hiding it as a self-pair
    val benchProbes = Seq((0L, probeText)).toDF("doc_id", "text")
    val cross = Corpus.ngramContamination(corpus, benchProbes, "doc_id",
        "text", "doc_id", "text", k = 3, minShared = 2,
        excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(cross.contains((0L, 0L)),
      "excludeSelf=false must keep same-id cross-dataset hits")
    assert(cross((0L, 0L)) == sh(probeText).size)

    // string-id corpora must WORK, not silently return empty (the old
    // long cast nulled every id and the excludeSelf =!= dropped every
    // joined row — "no contamination" on a fully-contaminated corpus);
    // ids pass through uncast, and genuinely-null ids are filtered
    val sCorpus = Seq(("doc-a", probeText), ("doc-b", texts(3L)),
      (null.asInstanceOf[String], probeText)).toDF("doc_id", "text")
    val sProbes = Seq(("probe-x", probeText)).toDF("doc_id", "text")
    val sHits = Corpus.ngramContamination(sCorpus, sProbes, "doc_id",
        "text", "doc_id", "text", k = 3, minShared = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(sHits == Map(("probe-x", "doc-a") -> sh(probeText).size.toLong),
      "string-id contamination must flag the verbatim copy and only it")
  }

  test("ngram contamination fuzz: random corpora == exact recomputation " +
      "in both modes across seeds x minShared") {
    def sh(t: String): Set[String] =
      t.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    var totalPairs = 0
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 31337L)
      val vocab = Vector.tabulate(25)(i => s"t$i")
      val n = 30 + rnd.nextInt(40)
      // half the corpus derives from a small base pool (verbatim or
      // one-token mutants -> genuine multi-shingle overlaps), half is
      // fresh-random (mostly negatives, occasional chance collisions)
      val base = Vector.fill(math.max(2, n / 6))(
        Vector.fill(8 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))))
      val corpus = (0 until n).map { i =>
        val toks = rnd.nextInt(2) match {
          case 0 =>
            val t = base(rnd.nextInt(base.size))
            if (rnd.nextBoolean()) t
            else t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(vocab.size)))
          case _ => Vector.fill(6 + rnd.nextInt(10))(
            vocab(rnd.nextInt(vocab.size)))
        }
        i.toLong -> toks.mkString(" ")
      }
      val minShared = 1 + rnd.nextInt(3)
      val df = corpus.toDF("doc_id", "text")
      val probes = df.filter(col("doc_id") % 5 === 0)
      val texts = corpus.toMap
      val want = (for {
        p <- texts.keys if p % 5 == 0; d <- texts.keys if d != p
        shared = (sh(texts(p)) & sh(texts(d))).size.toLong
        if shared >= minShared
      } yield (p, d) -> shared).toMap
      for (md5Mode <- Seq(false, true)) {
        val got = Corpus.ngramContamination(df, probes, "doc_id", "text",
            "doc_id", "text", k = 3, minShared = minShared,
            md5Mode = md5Mode)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
          .toMap
        assert(got == want,
          s"seed=$seed minShared=$minShared mode=${if (md5Mode) "md5" else "xx"}: " +
            s"extra=${got.keySet -- want.keySet}, missing=${want.keySet -- got.keySet}")
      }
      totalPairs += want.size
    }
    assert(totalPairs >= 50, s"fuzz vacuous: only $totalPairs pairs total")
  }

  test("pii scrub: masks all three classes, counts what it masked, " +
      "leaves clean text byte-identical") {
    val df = Seq(
      (1L, "mail a.b+c@sub.example.org and x@y.io today"),
      (2L, "server 192.168.0.1 and 255.255.255.255 up; 999.1.1.1 is not an IP"),
      (3L, "call 555-867-5309 or +1 (212) 555-0199 now"),
      (4L, "clean text with numbers 12345 and a.dot but no pii"),
      (5L, "edge: 1.2.3.4.5 chains"),
      (6L, "id 978-316-148-4100 and run 95551234 5678 stay unmasked")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(df, "text")
      .select("doc_id", "n_emails", "n_ips", "n_phones", "text_clean")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(got(1L) == ((2, 0, 0, "mail |||EMAIL||| and |||EMAIL||| today")))
    assert(got(2L)._2 == 2 && !got(2L)._4.contains("192.168.0.1"))
    assert(got(2L)._4.contains("999.1.1.1") ||
      !got(2L)._4.contains("|||IP|||.1.1.1"),
      s"out-of-range octet must not mask: ${got(2L)._4}")
    assert(got(3L)._3 == 2, s"both phone spellings mask: ${got(3L)._4}")
    assert(got(3L)._4 ==
      "call |||PHONE||| or |||PHONE||| now", got(3L)._4)
    assert(got(4L) == ((0, 0, 0, "clean text with numbers 12345 and a.dot but no pii")),
      "clean text must pass through byte-identical")
    // chained dotted digits: whatever the match choice, it is total and
    // deterministic (the oracle pins the exact bytes per corpus)
    assert(got(5L)._4.nonEmpty)
    // the r15 left-anchor fix: a phone-shaped SUFFIX inside a longer
    // digit run must not be (partially) masked — the old right-only-\b
    // pattern leaked '978-3' next to the mask token here
    assert(got(6L)._3 == 0 && got(6L)._4.contains("978-316-148-4100") &&
      got(6L)._4.contains("95551234 5678"),
      s"digit-run suffix must stay unmasked: ${got(6L)._4}")
  }

  test("audio fingerprint: real WAV round-trip matches the analytic " +
      "energy-delta bits; family near-dups band; garbage stubs") {
    val fams = Seq((1L, "alpha beta"), (2L, "alpha beta"),
      (10L, "gamma delta")).toDF("id", "family")
    val wavs = Multimodal.syntheticWavs(fams, "id", "family")
    // the real chunk-walk decoder reads the generated headers
    val meta = Multimodal.decodeAudio(wavs, "id", "payload")
      .select($"meta.sample_rate", $"meta.channels", $"meta.bits",
        $"meta.n_samples").collect()
    assert(meta.forall(r => (r.getInt(0), r.getInt(1), r.getInt(2),
      r.getLong(3)) == ((8000, 1, 8, 65L * 16))))
    val fps = Multimodal.audioFingerprint(wavs, "id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(fps.values.forall(_._2), "every synthetic WAV must decode")
    // driver replay of the documented sample/energy contract
    val md = java.security.MessageDigest.getInstance("MD5")
    def dig(s: String): Array[Byte] = { md.reset(); md.digest(s.getBytes("UTF-8")) }
    def expected(id: Long, family: String): Long = {
      val v = (0 until 65 * 16).map(p =>
        (dig(s"$family:${p / 16}")(p % 16) & 0xff) % 200 +
          (dig(s"$id#${p / 16}")(p % 16) & 0xff) % 2)
      val e = (0 until 65).map(f => (0 until 16).map(j => v(f * 16 + j)).sum)
      var sig = 0L
      for (i <- 0 until 64) if (e(i) > e(i + 1)) sig |= 1L << i
      sig
    }
    Seq((1L, "alpha beta"), (2L, "alpha beta"), (10L, "gamma delta"))
      .foreach { case (id, fam) =>
        assert(fps(id)._1 == expected(id, fam),
          s"audio fingerprint of $id diverged from the analytic replay")
      }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L)._1, fps(2L)._1) <= 6, "same family must be close")
    assert(ham(fps(1L)._1, fps(10L)._1) > 10, "cross family must be far")
    val garbage = Seq((5L, "not audio".getBytes("UTF-8"))).toDF("id", "payload")
    val g = Multimodal.audioFingerprint(garbage, "id", "payload").collect()(0)
    assert(!g.getBoolean(2))
  }

  test("repetition signals match hand-computed Gopher rules") {
    val df = Seq(
      // 4 non-blank lines, "dup line" twice -> dup_line_frac = 2/4;
      // dup chars = 2*8 over 8+8+6+5 = 16/27
      (1L, "dup line\ndup line\nunique\n\n  \nother"),
      // "a b" bigram 3x in "a b a b a b": top2 covers 3*3=9 of 11 chars
      (2L, "a b a b a b"),
      (3L, "no repetition whatsoever here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getLong(1) == 4L)
    assert(got(1L).getDouble(2) == 2.0 / 4)
    assert(got(1L).getDouble(3) == 16.0 / 27)
    assert(got(2L).getDouble(4) == 9.0 / 11, "top2 frac of 'a b a b a b'")
    // trigram "a b a" appears 2x (overlapping): 2*5=10 of 11 chars
    assert(got(2L).getDouble(5) == 10.0 / 11, "top3 frac")
    assert(got(3L).getDouble(2) == 0.0 && got(3L).getLong(1) == 1L)
    // empty doc: no lines, no grams, all-zero signals (never NULL/0-div)
    assert(got(4L).getLong(1) == 0L && got(4L).getDouble(2) == 0.0 &&
      got(4L).getDouble(4) == 0.0)
    // plan: bounded exchanges (line count + id collapse, gram count +
    // window re-key + id collapse, the two id-keyed joins), never a
    // cartesian/NL join — the r14 relational line stats trade one more
    // keyed shuffle for the removal of the per-row O(lines^2) fold
    val plan = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"all-pairs crept in:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 8,
      s"too many shuffles:\n$plan")
  }

  test("image dHash: real PNG round-trip matches the analytic bits; " +
      "family near-dups band together; garbage quarantines to the stub") {
    val fams = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha beta"),
      (10L, "gamma delta"), (11L, "gamma delta"))
    val df = fams.toDF("id", "family")
    val imgs = Multimodal.syntheticGrayPngs(df, "id", "family")
    val hashed = Multimodal.imageDHash(imgs, "id", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(hashed.values.forall(_._2), "every synthetic PNG must decode")
    // driver replay of the documented pixel/bit contract
    val md = java.security.MessageDigest.getInstance("MD5")
    def b0(s: String): Int = { md.reset(); md.digest(s.getBytes("UTF-8"))(0) & 0xff }
    def expected(id: Long, family: String): Long = {
      val px = (0 until 72).map(p => b0(s"$family:$p") % 200 + b0(s"$id#$p") % 2)
      var sig = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (px(y * 9 + x) > px(y * 9 + x + 1)) sig |= 1L << (y * 8 + x)
      sig
    }
    fams.foreach { case (id, fam) =>
      assert(hashed(id)._1 == expected(id, fam),
        s"dHash of $id diverged from the analytic replay — the ImageIO " +
          "gray8 PNG round-trip is no longer lossless")
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashed(1L)._1, hashed(2L)._1) <= 6,
      "same-family images must be a few bits apart")
    assert(ham(hashed(1L)._1, hashed(10L)._1) > 10,
      "cross-family images must be far apart")
    // banding finds the within-family pairs, nothing cross-family
    val pairs = Dedup.hammingCandidates(
      Multimodal.imageDHash(imgs, "id", "payload").filter($"decoded"),
      "id", "phash")
      .filter($"hamming" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (a, b) => (a < 10L) == (b < 10L) },
      s"cross-family pair at hamming <= 3: $pairs")
    // a payload nothing decodes: deterministic stub hash, decoded=false
    val garbage = Seq((5L, "not an image at all".getBytes("UTF-8")))
      .toDF("id", "payload")
    val g1 = Multimodal.imageDHash(garbage, "id", "payload").collect()(0)
    val g2 = Multimodal.imageDHash(garbage, "id", "payload").collect()(0)
    assert(!g1.getBoolean(2) && g1.getLong(1) == g2.getLong(1))
    // a real but non-9x8, non-gray image exercises the resample branch:
    // decodes (decoded=true) and is deterministic across runs
    val png1x1 = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val rgba = Seq((9L, png1x1)).toDF("id", "payload")
    val r1 = Multimodal.imageDHash(rgba, "id", "payload").collect()(0)
    val r2 = Multimodal.imageDHash(rgba, "id", "payload").collect()(0)
    assert(r1.getBoolean(2), "a real RGBA PNG must take the decode branch")
    assert(r1.getLong(1) == r2.getLong(1), "resample-branch hash must be deterministic")
    // plan gate: banding must never build an all-pairs join over assets
    val plan = Dedup.hammingCandidates(
      Multimodal.imageDHash(imgs, "id", "payload").filter($"decoded"),
      "id", "phash").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"image near-dup banding degraded to all-pairs:\n$plan")
  }

  test("video frames: real animated-GIF walk matches the analytic bits; " +
      "temporal rollup pairs same-family videos; hostile payloads " +
      "quarantine, never fail a task") {
    val fams = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha beta"),
      (10L, "gamma delta"), (11L, "gamma delta"))
    val df = fams.toDF("id", "family")
    val gifs = Multimodal.syntheticAnimatedGifs(df, "id", "family",
      nFrames = 4)
    // payloads are real GIF89a containers
    gifs.collect().foreach { r =>
      val b = r.getAs[Array[Byte]]("payload")
      assert(new String(b.take(6), "ISO-8859-1") == "GIF89a",
        "not a real GIF container")
    }
    val frames = Multimodal.videoFrameDHash(gifs, "id", "payload",
      maxFrames = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(frames.size == fams.size * 4, "every video must yield 4 frames")
    assert(frames.values.forall(_._2), "every synthetic frame must decode")
    // driver replay of the documented per-frame pixel/bit contract: the
    // GIF identity-palette round-trip must be lossless
    val md = java.security.MessageDigest.getInstance("MD5")
    def b0(s: String): Int = { md.reset(); md.digest(s.getBytes("UTF-8"))(0) & 0xff }
    def expected(id: Long, family: String, f: Int): Long = {
      val px = (0 until 72).map(p =>
        b0(s"$family:$f:$p") % 200 + b0(s"$id#$f:$p") % 2)
      var sig = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (px(y * 9 + x) > px(y * 9 + x + 1)) sig |= 1L << (y * 8 + x)
      sig
    }
    for ((id, fam) <- fams; f <- 0 until 4)
      assert(frames((id, f))._1 == expected(id, fam, f),
        s"frame dHash of ($id, $f) diverged from the analytic replay — " +
          "the GIF identity-palette round-trip is no longer lossless")
    // temporal rollup: all within-family pairs at 4/4 frames, nothing
    // cross-family, no self pairs
    val vids = Multimodal.videoNearDups(
      Multimodal.videoFrameDHash(gifs, "id", "payload", maxFrames = 8)
        .filter($"decoded"), "id", "frame_idx", "phash", minFrames = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(vids.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)),
      s"temporal rollup pairs wrong: ${vids.keySet}")
    assert(vids.values.forall(_ == 4L), s"expected 4/4 frame matches: $vids")
    // maxFrames caps the walk (scale guard against frame bombs)
    val capped = Multimodal.videoFrameDHash(gifs, "id", "payload",
      maxFrames = 2).groupBy("id").count().collect()
    assert(capped.forall(_.getLong(1) == 2L), "maxFrames cap not honored")
    // quarantine parity: garbage / null / truncated-GIF payloads emit
    // one stub row (decoded=false, frame_idx=-1) — never a task failure
    val gifBytes = gifs.filter($"id" === 1L).collect()(0)
      .getAs[Array[Byte]]("payload")
    val hostile = Seq(
      (90L, "not a video".getBytes("UTF-8")),
      (91L, null.asInstanceOf[Array[Byte]]),
      (92L, gifBytes.take(20)), // truncated mid-header
      (93L, Array.emptyByteArray)
    ).toDF("id", "payload")
    val h = Multimodal.videoFrameDHash(hostile, "id", "payload",
      maxFrames = 8).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(3))).toMap
    assert(h.keySet == Set(90L, 91L, 92L, 93L), s"quarantine lost ids: $h")
    assert(h.values.forall { case (fi, dec) => fi == -1 && !dec },
      s"hostile payloads must stub with frame_idx=-1: $h")
    // a SINGLE-frame image payload walks as a 1-frame video whose hash
    // equals the image path's (shared dHash kernel)
    val png = Multimodal.syntheticGrayPngs(
      Seq((7L, "epsilon")).toDF("id", "family"), "id", "family")
    val asVideo = Multimodal.videoFrameDHash(png, "id", "payload",
      maxFrames = 8).collect()(0)
    val asImage = Multimodal.imageDHash(png, "id", "payload").collect()(0)
    assert(asVideo.getInt(1) == 0 && asVideo.getBoolean(3))
    assert(asVideo.getLong(2) == asImage.getLong(1),
      "single-frame walk must equal the image dHash path")
    // plan gate: the temporal pipeline is banded, never all-pairs
    val plan = Multimodal.videoNearDups(
      Multimodal.videoFrameDHash(gifs, "id", "payload", maxFrames = 8)
        .filter($"decoded"), "id", "frame_idx", "phash", minFrames = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"video near-dup degraded to all-pairs:\n$plan")
  }

  test("html extract: tags/scripts/comments stripped, entity decode " +
      "order correct, block boundaries keep words apart, malformed html " +
      "is total, zero shuffles") {
    val df = Seq(
      (1L, "<p>hello</p><div>world</div>"),
      (2L, "<script>var a = \"<p>not text</p>\";</script>real"),
      (3L, "<style>.x { }</style>styled<b>bold</b>"),
      (4L, "&amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b"),
      (5L, "<!-- c1 --><p>kept</p><!-- multi\nline -->"),
      (6L, "no markup at all"),
      (7L, "<a href=\"x\">one</a> <A HREF=\"y\">two</A>"),
      (8L, "<div junk without close"),       // malformed: unclosed tag
      (9L, ""),
      (10L, null.asInstanceOf[String])
    ).toDF("id", "html")
    val got = TextAnalysis.htmlExtract(df, "html")
      .select("id", "text_plain", "n_links").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // block tags separate words; inline tags drop without spacing
    assert(got(1L)._1 == "hello world", got(1L)._1)
    // script/style CONTENT is gone, including tag-looking strings inside
    assert(got(2L)._1 == "real", got(2L)._1)
    assert(got(3L)._1 == "styledbold", got(3L)._1)
    // decode order: &amp;amp; -> literal &amp; (never double-decodes)
    assert(got(4L)._1 == "&amp; <tag> \"q\" 's' a b", got(4L)._1)
    assert(got(5L)._1 == "kept", got(5L)._1)
    assert(got(6L)._1 == "no markup at all")
    assert(got(7L) == (("one two", 2L)), s"anchor count: ${got(7L)}")
    // malformed: an unclosed tag never matches `<[^>]*>` and passes
    // through verbatim (the regex contract — total, deterministic,
    // never an error; leftover markup is a quality-signal matter, not a
    // crash)
    assert(got(8L)._1 == "<div junk without close", got(8L)._1)
    assert(got(9L)._1 == "" && got(10L)._1 == "")
    // the signals: a tag-dominated row has a lower text ratio than a
    // text-dominated one
    val ratios = TextAnalysis.htmlExtract(df, "html")
      .select("id", "text_ratio").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ratios(6L) > ratios(1L) && ratios(1L) > ratios(2L),
      s"text_ratio ordering wrong: $ratios")
    // plan: pure scan-stage column algebra — no exchange anywhere
    val plan = TextAnalysis.htmlExtract(df, "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"html extract must be a zero-shuffle scan:\n$plan")
  }

  test("span mask: null text tokenizes as empty — n_tokens 0, never " +
      "the ANSI-off size(null) = -1") {
    import spark.implicits._
    val corpus = Seq((1L, "shared span one two three four five six " +
        "seven eight shared span"),
      (2L, "shared span one two three four five six seven eight tail"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Corpus.maskRepeatedSpans(corpus, "doc_id", "text",
        n = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(3L) === (("", 0L, 0L)),
      s"null text must scrub to ('', 0, 0), got ${got(3L)}")
    assert(got.keySet === Set(1L, 2L, 3L))
  }

  test("span scrub: randomized driver replay over generated corpora") {
    // seeded random corpora: small vocab (forces cross-doc repeats),
    // varied lengths incl. empty docs; the operator must match an
    // independent driver recomputation EXACTLY on every trial
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("a", "b", "c", "d", "e")
    val n = 3; val minDocs = 2
    for (trial <- 1 to 6) {
      val corpus = (0 until 12).map { id =>
        val len = rnd.nextInt(13) // 0..12 tokens
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val got = Corpus.maskRepeatedSpans(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n, minDocs).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
          r.getLong(3)))).toMap
      // driver reference
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      }.toMap
      val spans = toks.toSeq.flatMap { case (id, t) =>
        if (t.size < n) Nil
        else (0 to t.size - n).map(i => (id, i, t.slice(i, i + n)
          .mkString(" ")))
      }
      val rep = spans.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size >= minDocs).keySet
      val covered: Map[Long, Set[Int]] = spans.filter(s => rep(s._3))
        .flatMap { case (id, i, _) => (i until i + n).map(id -> _) }
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
      val expected = toks.map { case (id, t) =>
        val cov = covered.getOrElse(id, Set.empty)
        val kept = t.zipWithIndex.collect {
          case (tok, i) if !cov(i) => tok }
        id -> ((kept.mkString(" "), t.size.toLong,
          (t.size - kept.size).toLong))
      }
      assert(got == expected, s"trial $trial diverged:\n got $got\n " +
        s"exp $expected\n corpus $corpus")
    }
  }

  test("dsir xx mode: mode-shared contracts hold on the production hash") {
    // same corpus as the md5 replay test; xx mode hashes different
    // bucket collisions (weights may differ in the smoothing tails) but
    // the SEMANTIC contracts are mode-independent
    val df = Seq(
      (1L, "alpha beta gamma alpha beta", "tgt"),
      (2L, "alpha beta delta gamma", "tgt"),
      (3L, "alpha beta gamma alpha beta", "raw"),
      (4L, "zeta eta theta iota kappa mu", "raw"),
      (5L, "", "raw"),
      (6L, "alpha beta", null.asInstanceOf[String])
    ).toDF("id", "text", "role")
    val got = Dsir.weights(df, "id", "text", $"role" === "tgt",
      buckets = 64, xx = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!got.contains(1L) && !got.contains(2L), "target docs leaked")
    assert(!got.contains(5L), "featureless doc got a weight")
    assert(got.contains(6L), "NULL target flag dropped a raw doc")
    assert(got(3L) > got(4L), "target twin did not outscore in xx mode")
    // layout independence: weights identical under a different
    // partitioning (xxhash64 is content-keyed, never layout-keyed)
    val got2 = Dsir.weights(df.repartition(7), "id", "text",
      $"role" === "tgt", buckets = 64, xx = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == got2, "xx-mode weights depend on physical layout")
  }

  test("dsir: randomized driver replay over generated corpora") {
    val rnd = new scala.util.Random(77)
    val vocab = Vector("x", "y", "z", "w", "v", "u")
    val buckets = 32; val alpha = 1.0
    def feats(t: String): Seq[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(f: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val v = (0 until 4).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xffL))
      (v % buckets).toInt
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    for (trial <- 1 to 6) {
      val corpus = (0 until 10).map { id =>
        val len = rnd.nextInt(9) // 0..8 tokens
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "), rnd.nextInt(3) == 0) // ~1/3 target
      }
      // ensure at least one target and one raw doc with features
      if (corpus.count(_._3) == 0 || corpus.count(!_._3) == 0) {
        // degenerate draw: skip (weights are defined but uninteresting)
      } else {
        val got = Dsir.weights(corpus.toDF("id", "text", "tgt"),
          "id", "text", col("tgt"), buckets, alpha).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
          .toMap
        val isTgt = corpus.map(c => c._1 -> c._3).toMap
        val fc = corpus.flatMap { case (id, t, _) =>
          feats(t).map(f => (id, bucket(f))) }
          .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
        val ct = fc.toSeq.filter(x => isTgt(x._1._1)).groupBy(_._1._2)
          .map { case (b, xs) => b -> xs.map(_._2).sum }
        val cr = fc.toSeq.filter(x => !isTgt(x._1._1)).groupBy(_._1._2)
          .map { case (b, xs) => b -> xs.map(_._2).sum }
        val tt = ct.values.sum.toDouble; val tr = cr.values.sum.toDouble
        def lam(b: Int): Double = r6(math.log(
          ((ct.getOrElse(b, 0L).toDouble + alpha) / (tt + alpha * buckets)) /
            ((cr.getOrElse(b, 0L).toDouble + alpha) /
              (tr + alpha * buckets))))
        val expected = fc.toSeq.filter(x => !isTgt(x._1._1))
          .groupBy(_._1._1).map { case (id, xs) =>
            id -> ((xs.map(_._2).sum,
              xs.map { case ((_, b), c) => BigDecimal(r6(c * lam(b))) }
                .sum.toDouble))
          }
        assert(got == expected,
          s"trial $trial diverged:\n got $got\n exp $expected")
      }
    }
  }

  test("sketch quantiles: contract holds on the corpus and FLIPS on a " +
      "degraded estimate") {
    val rows = graft.SparkEntry.queries("q_sketch_quantiles")(spark, dir)
      .collect()
    assert(rows.length == 4 && rows.forall(_.getBoolean(2)),
      s"rank contract violated: ${rows.mkString(", ")}")
    // sensitivity: the same two-sided law applied to a WRONG median
    // (true rank 0.989 claimed as 0.5) must evaluate false — the gate
    // can actually catch a degraded sketch, it is not vacuous
    val vals = (1 to 1000).map(_.toDouble).toDF("value")
    val bad = 990.0
    val r = vals.agg(
      sum(when($"value" < bad, 1L).otherwise(0L)).as("lt"),
      sum(when($"value" <= bad, 1L).otherwise(0L)).as("le")).collect()(0)
    val holds = r.getLong(0) <= (0.5 + 0.02) * 1000 &&
      r.getLong(1) >= (0.5 - 0.02) * 1000
    assert(!holds, "two-sided rank law failed to flag a wrong median")
  }

  test("span scrub: covered tokens cut, overlaps compose, survivors " +
      "rebuilt in order, edge docs intact") {
    // span "a b c d" (n=4) repeats in docs 1 and 2; doc 2 has TWO
    // overlapping occurrences (a b c d a b c d -> all 8 covered... use
    // a b c d embedded mid-text); doc 3 shares no span; doc 4 is ALL
    // repeated content; doc 5 is empty
    val df = Seq(
      (1L, "x a b c d y z w"),
      (2L, "p a b c d a b c d q"),
      (3L, "u v w x y z one two"),
      (4L, "a b c d"),
      (5L, "")
    ).toDF("doc_id", "text")
    val got = Corpus.maskRepeatedSpans(df, "doc_id", "text", n = 4,
      minDocs = 2).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got(1L) == (("x y z w", 8L, 4L)), s"doc 1: ${got(1L)}")
    // doc 2: both occurrences (starts 2 and 6) cover positions 2..9
    assert(got(2L) == (("p q", 10L, 8L)), s"doc 2: ${got(2L)}")
    assert(got(3L) == (("u v w x y z one two", 8L, 0L)), s"doc 3: ${got(3L)}")
    assert(got(4L) == (("", 4L, 4L)), s"doc 4 (fully cut): ${got(4L)}")
    assert(got(5L) == (("", 0L, 0L)), s"doc 5 (tokenless): ${got(5L)}")
    // plan gate: no all-pairs, staged tokenization (the md5-free plan
    // reads the token frame from the checkpoint barrier), and the cut is
    // the FUSED array-fold form (r21): covered starts collect into ONE
    // id-keyed aggregate and the token cut folds per row — the former
    // position-explode + distinct + LeftAnti + reassembly-aggregate
    // chain (four shuffles, an n-fold row blow-up) must not come back
    val plan = Corpus.maskRepeatedSpans(df, "doc_id", "text", n = 4,
      minDocs = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs crept into span scrub:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"the position-anti-join cut is back (fused in r21):\n${plan.take(1200)}")
    assert(plan.contains("collect_list"),
      s"covered-start collection lost:\n${plan.take(1200)}")
    // the token frame is a shared snapshot: a lazy persist
    // (InMemoryRelation, the r21 shape — one serial job fewer than the
    // eager checkpoint) or a checkpoint RDD scan both satisfy the
    // compute-once contract
    assert(plan.contains("InMemoryRelation") ||
      plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"),
      s"tokenization not staged or cached:\n${plan.take(1200)}")
  }

  test("span scrub xx mode: output identical to string keys; the span " +
      "text never reaches the aggregate/join (hashed shuffle keys)") {
    val df = Seq(
      (1L, "x a b c d y z w"),
      (2L, "p a b c d a b c d q"),
      (3L, "u v w x y z one two"),
      (4L, "a b c d"),
      (5L, "")
    ).toDF("doc_id", "text")
    def rows(xx: Boolean) =
      Corpus.maskRepeatedSpans(df, "doc_id", "text", n = 4, minDocs = 2,
        xx = xx).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(xx = true) == rows(xx = false),
      "xx key mode changed the output (it may only change shuffle width)")
    // plan gate: the production mode's repeated-span aggregate and
    // coverage join key on a LongType hash — the 40-60 byte span strings
    // must not be shuffle keys. The span text is materialized only
    // inside the scan-stage projection that hashes it.
    val q = Corpus.maskRepeatedSpans(df, "doc_id", "text", n = 4,
      minDocs = 2, xx = true)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"),
      s"xx mode lost its hashed span key:\n${plan.take(1200)}")
    // every exchange partitions on long/int keys (id, pos, hashed span) —
    // NO StringType shuffle key anywhere in the xx plan; the string mode
    // by contrast does key its span aggregate on the raw string (the
    // declared-oracle trade)
    // exchanges exist only in the post-EnsureRequirements plan, and AQE's
    // wrapper node hides that tree from collect() — inspect with AQE off
    // (the key-type property is mode-independent of adaptivity)
    def stringKeyedExchanges(mk: => org.apache.spark.sql.DataFrame): Seq[String] = {
      val key = "spark.sql.adaptive.enabled"
      val old = spark.conf.get(key)
      try {
        spark.conf.set(key, "false")
        mk.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            e.outputPartitioning match {
              case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
                  if h.expressions.exists(_.dataType ==
                    org.apache.spark.sql.types.StringType) =>
                Some(h.toString)
              case _ => None
            }
        }.flatten
      } finally spark.conf.set(key, old)
    }
    val xxKeys = stringKeyedExchanges(Corpus.maskRepeatedSpans(
      df, "doc_id", "text", n = 4, minDocs = 2, xx = true))
    assert(xxKeys.isEmpty, s"string shuffle key in xx mode: $xxKeys")
    assert(stringKeyedExchanges(Corpus.maskRepeatedSpans(
      df, "doc_id", "text", n = 4, minDocs = 2, xx = false)).nonEmpty,
      "sanity: the string mode should key its span aggregate on the string")
  }

  test("cluster-balanced sample: per-cell quotas honored, assignment " +
      "matches nearest centroid, NaN vectors dropped, layout-stable") {
    // three tight synthetic clusters around orthogonal axes + one NaN row
    val base = Seq(
      (0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)),
      (2, Seq(0.0, 0.0, 1.0)))
    val rows = (for {
      (c, axis) <- base
      i <- 0 until (c + 2) * 3 // cells of size 6, 9, 12
    } yield {
      val eps = 0.01 * (i + 1)
      val v = axis.zipWithIndex.map { case (x, d) =>
        (if (x == 1.0) 1.0 else eps * (d + 1)).toFloat }
      (c * 100L + i, v)
    }) :+ (999L, Seq(Float.NaN, 0.0f, 0.0f))
    val df = rows.toDF("id", "vec")
    val cents = base.map { case (c, axis) => (c, axis) }
    val quota = 4
    val got = ScaleOps.clusterBalancedSample(df, "id", "vec", cents, quota)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    // NaN row never sampled; every sampled row sits in its id's own
    // cluster (construction puts id c*100+i nearest axis c)
    assert(!got.exists(_._1 == 999L), "NaN vector was sampled")
    got.foreach { case (id, cell) =>
      assert(cell == (id / 100).toInt, s"row $id assigned cell $cell") }
    // per-cell counts = min(quota, cell size)
    val sizes = Map(0 -> 6, 1 -> 9, 2 -> 12)
    val byCell = got.groupBy(_._2).view.mapValues(_.length).toMap
    sizes.foreach { case (c, n) =>
      assert(byCell.getOrElse(c, 0) == math.min(quota, n),
        s"cell $c: got ${byCell.getOrElse(c, 0)}, want ${math.min(quota, n)}")
    }
    // layout independence: a different partitioning samples identically
    val got2 = ScaleOps.clusterBalancedSample(df.repartition(7), "id",
      "vec", cents, quota).select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(got.toSet == got2.toSet, "sample depends on physical layout")
  }

  test("dsir: driver replay of the weight contract; target/empty/null " +
      "membership rules; selection ranks target-like docs first") {
    val texts = Seq(
      (1L, "alpha beta gamma alpha beta", "tgt"),
      (2L, "alpha beta delta gamma", "tgt"),
      (3L, "alpha beta gamma alpha beta", "raw"), // a target twin
      (4L, "zeta eta theta iota kappa mu", "raw"), // nothing in common
      (5L, "", "raw"), // no features -> absent from the output
      (6L, "alpha beta", null) // NULL flag -> raw pool, never dropped
    )
    val df = texts.toDF("id", "text", "role")
    val buckets = 64
    val alpha = 1.0
    val got = Dsir.weights(df, "id", "text", $"role" === "tgt", buckets)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // independent driver reference of the full pipeline: tokenize,
    // md5-first-half buckets, smoothed distributions, floor-6 log ratios
    // and addends, decimal-exact per-doc sum
    def feats(t: String): Seq[String] = {
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(f: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val v = (0 until 4).foldLeft(0L)((a, i) => (a << 8) | (d(i) & 0xffL))
      (v % buckets).toInt
    }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val isTgt = texts.map(t => t._1 -> (t._3 == "tgt")).toMap
    val fc: Map[(Long, Int), Long] = texts
      .flatMap { case (id, t, _) => feats(t).map(f => (id, bucket(f))) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val ct = fc.toSeq.filter(x => isTgt(x._1._1))
      .groupBy(_._1._2).map { case (b, xs) => b -> xs.map(_._2).sum }
    val cr = fc.toSeq.filter(x => !isTgt(x._1._1))
      .groupBy(_._1._2).map { case (b, xs) => b -> xs.map(_._2).sum }
    val tt = ct.values.sum.toDouble; val tr = cr.values.sum.toDouble
    def lam(b: Int): Double = r6(math.log(
      ((ct.getOrElse(b, 0L).toDouble + alpha) / (tt + alpha * buckets)) /
        ((cr.getOrElse(b, 0L).toDouble + alpha) / (tr + alpha * buckets))))
    val expected: Map[Long, (Long, Double)] = fc.toSeq
      .filter(x => !isTgt(x._1._1)).groupBy(_._1._1)
      .map { case (id, xs) =>
        val w = xs.map { case ((_, b), c) => BigDecimal(r6(c * lam(b))) }
          .sum.toDouble
        id -> (xs.map(_._2).sum, w)
      }
    assert(got == expected,
      s"weight mismatch:\n got $got\n exp $expected")
    // membership rules: targets and the empty doc absent, NULL flag kept
    assert(!got.contains(1L) && !got.contains(2L), "target docs leaked")
    assert(!got.contains(5L), "featureless doc got a weight")
    assert(got.contains(6L), "NULL target flag dropped a raw doc")
    // the target twin outscores the disjoint doc, and selection cuts there
    assert(got(3L)._2 > got(4L)._2, "target twin did not outscore")
    val top = Dsir.select(df, "id", "text", $"role" === "tgt", k = 1,
      buckets).collect().map(_.getLong(0)).toSeq
    assert(top == Seq(3L), s"selection cut wrong: $top")
  }
}
