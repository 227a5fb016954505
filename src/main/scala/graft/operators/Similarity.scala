package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — one narrow codegen'd map computing
  * the dot product plus a TakeOrdered (no shuffle of the vectors, only k
  * rows to the driver). Scale path: IVF — vectors are pre-assigned to their
  * nearest centroid cell (one narrow map, persisted/partitioned by cell),
  * and a query scans only `nprobe` cells, pruning (1 - nprobe/C) of the
  * data. All arithmetic is double-precision column algebra over
  * `zip_with`/`aggregate` — no UDFs.
  */
object Similarity {

  /** Dot product of two array<float/double> columns: a native
    * Catalyst expression (see [[graft.functions.DotProduct]]) — ascending-
    * index summation, bit-identical to the previous zip_with/aggregate
    * left-fold, minus the per-row intermediate array and boxing.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. A zero vector has no direction: the division
    * yields NULL (non-ANSI), which `orderBy(desc)` sorts LAST — zero
    * row-vectors therefore never pollute a top-k, but callers filtering
    * on a threshold should note NULL fails every comparison.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Literal vector as a column. */
  def vec(q: Seq[Double]): Column = array(q.map(lit): _*)

  /** Brute-force cosine top-k for one query vector. A zero query vector
    * would make EVERY score NULL and return k arbitrary id-ordered rows —
    * rejected eagerly instead. Degenerate ROW vectors (zero vector ->
    * NULL cosine, NaN elements -> NaN cosine) are FILTERED, not sorted:
    * NULL sorts last in Spark but a 0/0 is NaN in DuckDB and sorts FIRST
    * on DESC, so leaving them in the frame makes the top-k
    * engine-dependent the moment the corpus gains a degenerate vector
    * (advisor finding r17). Every oracle replays the same
    * `c IS NOT NULL AND NOT isnan(c)` guard.
    */
  def topK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    require(query.exists(_ != 0.0), "query vector must be non-zero")
    rankByCosine(
      df.select(col(idCol), cosine(col(vecCol), vec(query)).as("cosine")),
      idCol, k)
  }

  /** THE top-k ranking — one shared helper so every retrieval variant
    * (brute force, IVF, LSH, PQ re-rank, partitioned IVF, quantized)
    * carries the SAME degenerate-vector guard: NULL/NaN cosine rows are
    * FILTERED, not sorted — NULL sorts last in Spark but the equivalent
    * 0/0 is NaN in DuckDB and sorts FIRST on DESC, so an unguarded rank
    * is engine-dependent the moment the corpus gains a zero/NaN vector
    * (r17 review: the r16 advisor fix had landed in topK only, leaving
    * the four sibling rank sites divergent). Every consuming oracle
    * replays the identical `c IS NOT NULL AND NOT isnan(c)` guard. */
  private def rankByCosine(scored: DataFrame, idCol: String,
      k: Int): DataFrame =
    scored.filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)

  /** IVF cell assignment: nearest centroid by cosine. `centroids` is a
    * small in-memory list (id -> vector) — broadcast implicitly as
    * literals; at real scale it would be a broadcast DataFrame of KMeans
    * centroids. Returns df + `cell` column; partitioning the output by
    * `cell` makes each query a partition-pruned scan.
    */
  def assignCells(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    // one native codegen'd argmax-dot pass (graft_nearest_centroid): the
    // greatest(struct(cosine, cid) x k) column formula it replaces made
    // janino compile a k x dim literal tree for every stage touching the
    // cell column — plan-compile time dominated the IVF pipelines
    val idx = graft.functions.LshExpressions.nearestCentroid(
      col(vecCol), centroids.map(_._2))
    val cellId = element_at(array(centroids.map(c => lit(c._1)): _*), idx + 1)
    df.withColumn("cell", cellId)
  }

  /** IVF top-k: only the `nprobe` cells whose centroids are closest to
    * the query pay the query scoring and the top-k sort. With
    * `precomputedCells = true`, `df` must already carry a `cell` column
    * ASSIGNED FROM THESE SAME CENTROIDS (the at-ingest production
    * posture, see [[writePartitionedByCell]]) and the non-probed rows are
    * a filter away and nothing else; the default always (re)assigns —
    * one narrow pass of C model-sized dot products per row (compute
    * pruning only, no I/O pruning). The flag is explicit rather than
    * dispatching on a `cell` column's presence: a frame carrying an
    * unrelated or stale `cell` column would silently be filtered against
    * mismatched probe ids. True scan pruning needs the cell-partitioned
    * layout ([[topKIvfPartitioned]], which skips non-probed FILES).
    */
  def topKIvf(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])],
      query: Seq[Double], k: Int, nprobe: Int,
      precomputedCells: Boolean = false): DataFrame = {
    require(query.exists(_ != 0.0), "query vector must be non-zero")
    val probeCells = centroids
      .map { case (cid, cvec) =>
        val d = cosSim(cvec, query)
        (cid, d)
      }
      .sortBy(-_._2).take(nprobe).map(_._1)
    val assigned =
      if (precomputedCells) {
        require(df.columns.contains("cell"),
          "precomputedCells = true but no `cell` column present")
        df
      } else assignCells(df.drop("cell"), vecCol, centroids)
    rankByCosine(assigned
      .filter(col("cell").isin(probeCells: _*))
      .select(col(idCol), cosine(col(vecCol), vec(query)).as("cosine")),
      idCol, k)
  }

  /** LSH-bucketed approximate top-k: `tables` independent random-
    * hyperplane hash tables of `planesPerTable` sign bits (shared plane
    * matrix with [[Dedup.cosineNearDups]] — same seed probes the same
    * index); a row is a candidate when ANY table's bucket code matches
    * the query's, and only candidates pay the exact cosine + TakeOrdered.
    * One narrow scan: the row's codes come from one native kernel pass
    * ([[graft.functions.HyperplaneBuckets]]), the match test is a single
    * `exists` over the zipped code arrays (the codes expression is
    * evaluated once per row, not once per table), and no shuffle carries
    * vectors — TakeOrdered moves k rows to the driver.
    *
    * At ingest-time scale the codes column would be precomputed and
    * stored (optionally `partitionBy` one table's code for file pruning,
    * exactly like [[writePartitionedByCell]] for IVF); this probe-time
    * variant recomputes codes in the scan — compute pruning of the
    * cosine, not I/O pruning.
    */
  def topKLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      query: Seq[Double], k: Int, planesPerTable: Int = 6, tables: Int = 32,
      seed: Long = 42L): DataFrame = {
    require(query.exists(_ != 0.0), "query vector must be non-zero")
    require(query.length == dim, s"query dim ${query.length} != dim $dim")
    val lsh = graft.functions.LshExpressions
    val planes = lsh.planeMatrix(dim, planesPerTable * tables, seed)
    val qCodes = lsh.bucketCodesOf(query, planes, planesPerTable)
    val codes = lsh.hyperplaneBuckets(col(vecCol), planes, planesPerTable)
    val hit = exists(
      zip_with(codes, typedlit(qCodes), (a, b) => a === b), x => x)
    rankByCosine(df.filter(hit)
      .select(col(idCol), cosine(col(vecCol), vec(query)).as("cosine")),
      idCol, k)
  }

  /** Batch kNN join: for EVERY query row, its `k` cosine-nearest corpus
    * rows — the all-queries-at-once generalization of [[topK]] (which
    * serves one literal vector). Shape: broadcast the query set against
    * the corpus scan, then `groupBy(query).agg(topKPairs)` — the bounded
    * heap is map-side combinable, so each (partition, query) contributes
    * exactly k candidate pairs to the shuffle no matter how large the
    * corpus is. A `row_number` window would shuffle all |C|·|Q| scored
    * rows; this moves |partitions|·|Q|·k.
    *
    * The query side must be broadcastable (thousands of vectors — the
    * batch-retrieval regime); corpus size is unbounded. Zero corpus
    * vectors score NULL and are skipped by the aggregate; a zero QUERY
    * vector matches nothing and is absent from the output.
    *
    * `maxQueryRows` ENFORCES the broadcast contract instead of assuming
    * it: the compute is |C|·|Q| dots, so a caller handing a corpus-sized
    * query set would silently go quadratic AND ship a multi-GB broadcast
    * to every executor. The guard is DEFERRED to execution (construction
    * stays job-free — the codebase's plan-composition convention): a
    * one-row count of the query side rides inside the broadcast build
    * and `raise_error`s the job before any |C|·|Q| work starts, with a
    * pointer to [[knnJoinIvf]] (cell-pruned, built for large query sets;
    * auto-routing is not done here because IVF needs trained centroids
    * the caller must supply). Raise the cap explicitly only when the
    * executors' memory budget is known to fit |Q|·dim·8 bytes.
    *
    * Output: (qidCol, rank, neighbor_id, score), rank 1 = best,
    * deterministic (score ties to the lowest neighbor id).
    */
  def knnJoin(queries: DataFrame, qidCol: String, qvecCol: String,
      corpus: DataFrame, cidCol: String, cvecCol: String, k: Int,
      maxQueryRows: Long = 100000L): DataFrame = {
    // the probe counts a limit(cap + 1) slice, and limit takes an Int: a
    // cap at or above Int.MaxValue would CLAMP the slice and make the
    // raise branch unreachable — the guard silently off at exactly the
    // scale it protects against. A >2-billion-row broadcast is nonsense
    // anyway; refuse the configuration instead of ignoring it.
    require(maxQueryRows > 0 && maxQueryRows < Int.MaxValue,
      s"maxQueryRows must be in (0, ${Int.MaxValue}), got $maxQueryRows")
    // execution-time broadcast-contract guard: ONE row carrying the query
    // count, crossed into the broadcast side (a scalar 1 x |Q| join —
    // the certRow posture, never a data cartesian). The probe counts a
    // `limit(cap + 1)` slice, NOT the whole query side: the count can
    // only distinguish <= cap from > cap, and the limit bounds the probe
    // scan so an over-cap caller can never pay (or time) a full pass of
    // a corpus-sized query set before the raise fires — the guard's
    // ordering relative to the driver's broadcast collect is scheduler-
    // dependent (both ride the broadcast build), so the probe itself
    // must stay O(cap). Over the cap the otherwise-branch raises before
    // any |C|x|Q| work starts.
    // the message is a LITERAL: a dynamic `concat(.., __qcount, ..)`
    // message evaluated to null under this plan shape (the attribute
    // reference inside raise_error's map-parameter did not survive the
    // broadcast-side evaluation) — a literal cannot null out, and the
    // cap value is what the caller needs to act
    val guard = queries
      .limit((maxQueryRows + 1L).toInt) // safe: cap < Int.MaxValue required
      .agg(count(lit(1)).as("__qcount"))
      .select(when(col("__qcount") <= maxQueryRows, lit(1.0d))
        .otherwise(raise_error(lit(
          "knnJoin broadcasts the query side against every corpus " +
            "partition (compute is |corpus| x |queries| dots): query set " +
            s"exceeds maxQueryRows = $maxQueryRows. Use knnJoinIvf " +
            "(cell-pruned) for large query sets, or raise maxQueryRows " +
            "if the broadcast is genuinely affordable.")).cast("double"))
        .as("__guard"))
    // norms hoisted per side (query norms once in the broadcast, corpus
    // norms once per scanned row) — the score stays the exact expression
    // dot / (norm_c * norm_q) on the same doubles, one dot per scored
    // pair instead of three
    val q = broadcast(queries.select(
        col(qidCol).as("__qid"), col(qvecCol).as("__qvec"),
        norm(col(qvecCol)).as("__qn"))
      .crossJoin(guard))
    val scored = corpus
      .select(col(cidCol).as("__cid"), col(cvecCol).as("__cvec"),
        norm(col(cvecCol)).as("__cn"))
      .crossJoin(q)
      // x * __guard (always 1.0 when in contract) is a bit-exact identity
      // on every double, so the score matches the unguarded expression —
      // and CONSUMING the guard here is what keeps column pruning from
      // deleting the raise_error branch as dead code
      .select(col("__qid"), (dot(col("__cvec"), col("__qvec")) /
        (col("__cn") * col("__qn")) * col("__guard")).as("__sim"), col("__cid"))
    expandTopK(scored.groupBy("__qid")
      .agg(graft.functions.Aggregators.topKPairs(
        col("__sim"), col("__cid"), k).as("__nn")), qidCol)
  }

  /** IVF-pruned kNN join: each query probes only its `nprobe` nearest
    * cells, and corpus rows are scored ONLY against the queries probing
    * their cell — the candidate set shrinks from |C|·|Q| to the
    * cell-collision pairs (a factor ~|cells|/nprobe). The probe table
    * (|Q|·nprobe rows) broadcasts; the corpus keeps its one narrow scan
    * (cell assignment is a per-row map, or free with `precomputedCells`
    * on a [[writePartitionedByCell]] layout). Same bounded-heap
    * aggregation and output shape as [[knnJoin]]; approximate exactly
    * like [[topKIvf]] is (a true neighbor outside probed cells is
    * missed — recall is the spec'd contract).
    */
  def knnJoinIvf(queries: DataFrame, qidCol: String, qvecCol: String,
      corpus: DataFrame, cidCol: String, cvecCol: String,
      centroids: Seq[(Int, Seq[Double])], k: Int, nprobe: Int,
      precomputedCells: Boolean = false): DataFrame = {
    require(nprobe > 0 && nprobe <= centroids.length,
      s"nprobe must be in [1, ${centroids.length}]")
    val cellScores = array(centroids.map { case (cid, cvec) =>
      struct(cosine(col("__qvec"), vec(cvec)).as("score"), lit(cid).as("cid"))
    }: _*)
    val qProbes = broadcast(queries
      .select(col(qidCol).as("__qid"), col(qvecCol).as("__qvec"),
        norm(col(qvecCol)).as("__qn"))
      .withColumn("__probe",
        explode(slice(reverse(array_sort(cellScores)), 1, nprobe)))
      .select(col("__qid"), col("__qvec"), col("__qn"),
        col("__probe.cid").as("cell")))
    val assigned =
      if (precomputedCells) {
        require(corpus.columns.contains("cell"),
          "precomputedCells = true but no `cell` column present")
        corpus
      } else assignCells(corpus.drop("cell"), cvecCol, centroids)
    val scored = assigned
      .select(col(cidCol).as("__cid"), col(cvecCol).as("__cvec"),
        norm(col(cvecCol)).as("__cn"), col("cell"))
      .join(qProbes, "cell")
      .select(col("__qid"), (dot(col("__cvec"), col("__qvec")) /
        (col("__cn") * col("__qn"))).as("__sim"), col("__cid"))
    expandTopK(scored.groupBy("__qid")
      .agg(graft.functions.Aggregators.topKPairs(
        col("__sim"), col("__cid"), k).as("__nn")), qidCol)
  }

  /** (qid, array<struct<score,id>>) -> one row per neighbor with rank. */
  private def expandTopK(grouped: DataFrame, qidCol: String): DataFrame =
    grouped
      .select(col("__qid").as(qidCol), posexplode(col("__nn")).as(Seq("__pos", "__e")))
      .select(col(qidCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("neighbor_id"), col("__e.score").as("score"))

  private def cosSim(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    d / (na * nb)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max(|x|)/127, quantized value = floor(x/scale + 0.5) (explicit
    * floor-based rounding — identical IEEE semantics in every engine,
    * unlike round()'s half-even/half-up variations). Returns
    * struct(scale double, q array<tinyint>) — a 4x size reduction that
    * changes cosine ordering by < 1% at d=64, the standard storage trade
    * for billion-vector corpora.
    */
  def quantizeInt8(vec: Column): Column = {
    val v = vec.cast("array<double>")
    // bind the scale ONCE as a lambda variable (a raw reference inside the
    // per-element lambda would re-derive the array_max per element); an
    // all-zero vector has scale 0 and quantizes to zeros — dividing would
    // produce NaN, whose downstream handling differs across engines
    transform(array(array_max(transform(v, x => abs(x))) / 127.0d),
      s => struct(s.as("scale"),
        transform(v, x =>
          when(s === 0.0d, lit(0)).otherwise(floor(x / s + 0.5d))
            .cast("tinyint")).as("q")))
      .getItem(0)
  }

  /** Reconstruct doubles from an int8-quantized struct. */
  def dequantizeInt8(quantized: Column): Column =
    transform(quantized.getField("q"),
      x => x.cast("double") * quantized.getField("scale"))

  /** Train IVF centroids: deterministic spherical k-means (farthest-point
    * init + Lloyd iterations on the unit sphere) over a bounded sample.
    * No RNG anywhere — identical centroids on every run, cluster size,
    * and physical layout: the sample is the `maxSample` vectors with the
    * SMALLEST `xxhash64(vector)` values, a content-keyed distributed
    * top-k (per-partition heaps + driver merge — never a
    * single-partition funnel, and independent of partitioning or row
    * order, unlike `limit()`). Driver transfer is bounded by `maxSample`
    * rows of one array column; the Lloyd iterations are driver-side
    * arithmetic on k x dim doubles (model-sized, never data-sized).
    */
  def trainCentroids(df: DataFrame, vecCol: String, k: Int,
      iters: Int = 5, maxSample: Int = 2000,
      sampleOrderCol: Option[String] = None): Seq[(Int, Seq[Double])] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    // `sampleOrderCol` swaps the content-hash sample order for an explicit
    // column (the oracle-replayable mode: an id-ordered sample — and hence
    // every init/fold order downstream — is plain ORDER BY/LIMIT SQL,
    // where the xxhash64 content key is not). The content-hash default
    // stays the production posture: it is independent of id assignment
    // and stable under re-ingestion.
    val sample: Array[Array[Double]] =
      boundedSample(df, vecCol, maxSample, sampleOrderCol)
      .map(normalize)
      // a zero vector has no direction on the unit sphere; keeping it
      // would make farthest-point init re-pick it every round (its
      // similarity to every chosen centroid is 0) — k-1 duplicate
      // degenerate centroids
      .filter(_.exists(_ != 0.0))
    require(sample.length >= k, s"need >= $k sample vectors, got ${sample.length}")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // farthest-point init: start from the first sample vector, greedily add
    // the vector with the smallest max-similarity to the chosen set.
    // INCREMENTAL: each sample carries its running max-similarity to the
    // chosen set, updated with ONE dot when a centroid is added —
    // O(k * sample * dim). The naive re-scan of every chosen centroid per
    // candidate is O(k^2 * sample * dim): at a production cell count
    // (k ~ corpus/125) that is days of driver time, not seconds. Greedy
    // choices (incl. first-minimum tie-breaks) are identical.
    val chosen = new Array[Array[Double]](k)
    chosen(0) = sample(0)
    val maxSim = sample.map(dot(_, sample(0)))
    var nChosen = 1
    while (nChosen < k) {
      var bestI = 0
      var i = 1
      while (i < sample.length) {
        if (maxSim(i) < maxSim(bestI)) bestI = i
        i += 1
      }
      val next = sample(bestI)
      chosen(nChosen) = next
      nChosen += 1
      i = 0
      while (i < sample.length) {
        val s = dot(sample(i), next)
        if (s > maxSim(i)) maxSim(i) = s
        i += 1
      }
    }
    var cents: Array[Array[Double]] = chosen
    (0 until iters).foreach { _ =>
      // the argmax-over-centroids pass is the O(sample*k*dim) hot loop —
      // parallel over samples (each independent, so still deterministic);
      // the sums accumulate SERIALLY afterwards so float addition order
      // (and thus the trained model) never depends on thread scheduling
      val assigned = new Array[Int](sample.length)
      java.util.stream.IntStream.range(0, sample.length).parallel().forEach { s =>
        val v = sample(s)
        var best = 0; var bestDot = dot(v, cents(0)); var c = 1
        while (c < k) {
          val d = dot(v, cents(c))
          if (d > bestDot) { best = c; bestDot = d }
          c += 1
        }
        assigned(s) = best
      }
      val sums = Array.fill(k)(new Array[Double](sample(0).length))
      val counts = new Array[Int](k)
      var s = 0
      while (s < sample.length) {
        val v = sample(s); val best = assigned(s)
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        s += 1
      }
      cents = (0 until k).map { c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c))
      }.toArray
    }
    cents.toIndexedSeq.zipWithIndex.map { case (v, i) => i -> v.toIndexedSeq }
  }

  /** Unit-normalize an embedding column (zero vectors stay zero). The
    * norm is bound ONCE as a lambda variable — a raw reference inside the
    * per-element lambda would re-derive the full dot product per element.
    */
  def normalized(v: Column): Column = {
    val vd = v.cast("array<double>")
    transform(array(norm(vd)), n =>
      transform(vd, x => when(n === 0.0d, 0.0d).otherwise(x / n))).getItem(0)
  }

  // ------------------------------------------------------------------ PQ

  /** Train product-quantization codebooks: the vector is split into `m`
    * subvectors of dim/m components; each subspace gets `ksub` L2 k-means
    * codewords (deterministic farthest-point init + Lloyd, no RNG) from
    * the same content-hash-ordered bounded sample as [[trainCentroids]].
    * Returns codebooks(s)(c) = codeword c of subspace s.
    *
    * PQ encodes each vector in m * ceil(log2 ksub) bits (m bytes at
    * ksub<=256) — with IVF cells this is the standard billion-vector ANN
    * layout: the corpus lives as codes, full vectors are only touched for
    * re-ranking. Distances are L2; for cosine search feed NORMALIZED
    * vectors ([[normalized]]) so L2 and cosine order agree.
    */
  /** The shared bounded-sample collection every driver-side model
    * trainer (centroids, PQ, PCA) uses: the `maxSample` vectors with
    * the smallest `xxhash64(vector)` values (content-keyed — stable
    * under re-ingestion and partitioning) or the smallest
    * `sampleOrderCol` values (the oracle-replayable mode), via a
    * distributed TakeOrdered (per-partition top-k + driver merge,
    * never a single-partition funnel), decoded to doubles in SAMPLE
    * ORDER. The driver re-sort makes the downstream fold order the
    * sample order by construction, not by trust in the collect's
    * ordering (the QualityClassifier posture): `Comparable` covers
    * every sane order-column type — numerics, strings, dates — and
    * Java String order (UTF-16 code units) matches Spark's binary
    * UTF-8 order for ASCII keys; NULL order keys are not supported
    * (they would make the limit boundary meaningless). The sort is
    * stable, so hash-collision ties keep the collected order exactly
    * as the pre-refactor trust-the-collect behavior did.
    */
  private[operators] def boundedSample(df: DataFrame, vecCol: String,
      maxSample: Int,
      sampleOrderCol: Option[String]): Array[Array[Double]] =
    df.select(col(vecCol),
        sampleOrderCol.fold(xxhash64(col(vecCol)))(c => col(c)).as("__h"))
      .orderBy(col("__h"))
      .limit(maxSample)
      .collect()
      .sortWith { (a, b) =>
        a.get(1).asInstanceOf[Comparable[Any]].compareTo(b.get(1)) < 0
      }
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }.toArray)

  def trainPq(df: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
      iters: Int = 5, maxSample: Int = 2000,
      sampleOrderCol: Option[String] = None): Seq[Seq[Seq[Double]]] = {
    // same sample-order switch as [[trainCentroids]] (oracle-replayable
    // id order vs the content-hash production default)
    val sample: Array[Array[Double]] =
      boundedSample(df, vecCol, maxSample, sampleOrderCol)
    require(sample.nonEmpty, "empty training input")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    (0 until m).map { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeansL2(sub, ksub, iters)
    }
  }

  /** Deterministic L2 k-means: farthest-point init (max-min distance) +
    * Lloyd mean updates; an emptied cluster keeps its previous centroid.
    * Fewer distinct points than k dedupes to the distinct set.
    */
  private def kmeansL2(points: Array[Array[Double]], k: Int,
      iters: Int): Seq[Seq[Double]] = {
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val kEff = math.min(k, points.map(_.toSeq).distinct.size)
    val cents = scala.collection.mutable.ArrayBuffer(points(0))
    while (cents.length < kEff) {
      val next = points.maxBy(p => cents.map(c => d2(p, c)).min)
      cents += next
    }
    var cs = cents.toArray
    (0 until iters).foreach { _ =>
      val sums = Array.fill(cs.length)(new Array[Double](points(0).length))
      val counts = new Array[Int](cs.length)
      points.foreach { p =>
        val best = cs.indices.minBy(c => d2(p, cs(c)))
        counts(best) += 1
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
      }
      cs = cs.indices.map { c =>
        if (counts(c) == 0) cs(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    cs.toIndexedSeq.map(_.toIndexedSeq)
  }

  /** Attach the PQ code column (`pq_code`, array<int> of length m): per
    * subspace, the L2-nearest codeword id (ties to the lowest id). A
    * native codegen'd kernel (see [[graft.functions.PqEncode]]) — one
    * primitive pass per row over the flattened codebooks, replacing the
    * `least(struct(dist, cid))`-over-`zip_with` column formulation that
    * allocated a zipped array per (subspace, codeword) per row. This is
    * the ingest-side hot loop of the IVF+PQ layout: at corpus scale every
    * vector pays it exactly once.
    */
  def pqEncode(df: DataFrame, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    df.withColumn("pq_code",
      graft.functions.LshExpressions.pqEncode(col(vecCol), codebooks))

  /** Asymmetric-distance (ADC) approximation: the query's per-subspace
    * distances to every codeword form an m x ksub lookup table (driver-
    * side literal); a row's approximate squared L2 distance is the sum of
    * m table lookups — no vector arithmetic per row at all.
    */
  def pqApproxDistance(codeCol: Column, query: Seq[Double],
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val dsub = codebooks.head.head.length
    val lut: Seq[Seq[Double]] = codebooks.zipWithIndex.map { case (cb, s) =>
      val q = query.slice(s * dsub, (s + 1) * dsub)
      cb.map(cw => cw.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    aggregate(
      zip_with(codeCol, typedlit(lut), (c, row) => element_at(row, c + 1)),
      lit(0.0d), (a, x) => a + x)
  }

  /** PQ top-k with exact re-rank: the ADC scan keeps `k * rerank`
    * candidates (a TakeOrdered over table lookups — the corpus-wide pass
    * touches only the m-byte codes), then the small candidate set is
    * re-scored with exact cosine. With `k * rerank >= |corpus|` this is
    * exactly brute force (the spec pins that identity).
    */
  def topKPq(encoded: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]], query: Seq[Double], k: Int,
      rerank: Int = 8): DataFrame = {
    require(query.exists(_ != 0.0), "query vector must be non-zero")
    val cand = encoded
      .select(col(idCol), col(vecCol),
        pqApproxDistance(col("pq_code"), query, codebooks).as("__adc"))
      .orderBy(col("__adc").asc, col(idCol).asc)
      .limit(k * rerank)
    rankByCosine(
      cand.select(col(idCol), cosine(col(vecCol), vec(query)).as("cosine")),
      idCol, k)
  }

  /** IVF + PQ: the billion-vector composition — restrict to the `nprobe`
    * nearest cells (partition-pruned I/O when the layout is
    * cell-partitioned), then ADC-scan only those cells' m-byte codes and
    * exact-re-rank the candidate window. `encoded` must carry `cell`
    * (from [[assignCells]] / the partitioned layout) and `pq_code` (from
    * [[pqEncode]]).
    */
  def topKIvfPq(encoded: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], codebooks: Seq[Seq[Seq[Double]]],
      query: Seq[Double], k: Int, nprobe: Int, rerank: Int = 8): DataFrame = {
    val probeCells = centroids
      .map { case (cid, cvec) => (cid, cosSim(cvec, query)) }
      .sortBy(-_._2).take(nprobe).map(_._1)
    topKPq(encoded.filter(col("cell").isin(probeCells: _*)),
      idCol, vecCol, codebooks, query, k, rerank)
  }

  /** Write the corpus partitioned by IVF cell: `partitionBy("cell")` lays
    * each cell out as its own directory, so a query probing `nprobe` cells
    * is a partition-pruned scan that never opens the other cells' files —
    * the I/O-level pruning that makes IVF pay off at 100 TB.
    */
  def writePartitionedByCell(df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Seq[Double])], path: String): Unit =
    assignCells(df, vecCol, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** IVF top-k over a cell-partitioned layout: the `cell` filter is a
    * partition predicate — Spark prunes non-probed cell directories at
    * planning time (zero I/O on them).
    */
  def topKIvfPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Double])],
      query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    rankByCosine(spark.read.parquet(path)
      .filter(col("cell").isin(probeCells(centroids, query, nprobe): _*))
      .select(col(idCol), cosine(col(vecCol), vec(query)).as("cosine")),
      idCol, k)
  }

  /** The `nprobe` cells a query probes — centroid cosine DESC with the
    * stable tie order (first cid), [[topKIvf]]'s exact selection —
    * exposed for layouts that carry the cell column externally (e.g. the
    * cell-partitioned int8 store). */
  def probeCells(centroids: Seq[(Int, Seq[Double])], query: Seq[Double],
      nprobe: Int): Seq[Int] =
    centroids.map { case (cid, cvec) => (cid, cosSim(cvec, query)) }
      .sortBy(-_._2).take(nprobe).map(_._1)

  /** Symmetric per-vector int8 scalar quantization — the 4x memory cut
    * (float32 -> int8) that keeps a 100 TB embedding store's working set
    * in executor memory: `scale = max|x| / 127`,
    * `q_i = clamp(floor(x_i / scale + 0.5), -127, 127)`. Every step is
    * portable column algebra (floor-based rounding — `round()` half-tie
    * behavior is not engine-portable — double division, clamp), so a SQL
    * oracle replays the quantizer bit-for-bit. A zero vector takes
    * scale 1 and quantizes to zeros instead of dividing by zero.
    * Output: `(idCol, qvec array<int>, qscale double)`.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // scale is computed in its OWN projection and referenced twice
    // downstream (lambda + output): higher-order-function lambdas inline
    // their free subexpressions per element, so an inlined scale would
    // re-run the array_max reduction for EVERY element — O(dim^2) per
    // row (the slidingConcat lesson); the multi-use non-cheap alias
    // stops CollapseProject from merging it back in
    val staged = df.select(col(idCol),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__scale", {
        val maxabs = array_max(transform(col("__v"), x => abs(x)))
        when(maxabs > 0.0d, maxabs / 127.0d).otherwise(lit(1.0d))
      })
    staged.select(col(idCol),
      transform(col("__v"), x =>
        greatest(least(floor(x / col("__scale") + 0.5d), lit(127.0d)),
          lit(-127.0d)).cast("int")).as("qvec"),
      col("__scale").as("qscale"))
  }

  /** Reconstruct doubles from an int8-quantized vector: `x̂_i = q_i *
    * scale`. Per-element absolute error is bounded by `scale / 2` (the
    * rounding half-step; clamp adds nothing because |q| <= 127 covers
    * max|x| by construction). */
  def dequantizeInt8(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Cosine top-k over the QUANTIZED store — scored DIRECTLY on the int
    * vectors: under symmetric quantization the per-vector scale cancels
    * out of cosine exactly (`cos(s·q, y) = cos(q, y)` for s > 0), so the
    * scorer never reconstructs — one dot-product pass over int8-sized
    * data, which is the point of quantizing a 100 TB store. (The SQL
    * oracle replays the same cancelled form; [[dequantizeInt8]] exists
    * for consumers that need values, not rankings.) The two-stage
    * pattern (quantized candidate scan -> exact float rerank of the
    * survivors) composes as `topKQuantized(...).join(floatStore)` +
    * [[topK]] on the slice.
    */
  def topKQuantized(quantized: DataFrame, idCol: String,
      query: Seq[Double], k: Int): DataFrame =
    topK(quantized.select(col(idCol), col("qvec").as("__qv")),
      idCol, "__qv", query, k)

  /** Materialize the int8 store ([[quantizeInt8]]'s output) to parquet —
    * how quantization is actually deployed: quantize ONCE, score many.
    * This is also the PLAN-SHAPE contract for scoring: feeding
    * [[topKQuantized]] the live [[quantizeInt8]] frame lets column
    * pruning turn `qscale` single-use, CollapseProject then inlines the
    * whole max|x| reduction into the per-element lambda, and the
    * quantizer silently becomes O(dim^2) per row (measured: 3.5x the
    * query wall at 10x). A store read gives the scorer plain attribute
    * columns — one O(dim) pass, the point of int8. Returns the schema
    * written, so the store reads back without a schema-inference job. */
  def writeQuantized(df: DataFrame, idCol: String, vecCol: String,
      path: String): StructType = {
    val q = quantizeInt8(df, idCol, vecCol)
    q.write.mode("overwrite").parquet(path)
    q.schema
  }
}
