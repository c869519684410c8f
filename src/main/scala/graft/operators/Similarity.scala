package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over an embedding column (`array<float>` at rest,
  * computed in double).
  *
  * The reference serves 1×N cosine KNN from its vector store
  * (reference: worker/app/services/qdrant_client.py:588-595). Re-expressed
  * for Spark batch:
  *   - [[cosineTopK]]: exact brute force — a broadcast of the query vector,
  *     one narrow scan, and TakeOrderedAndProject (per-partition heap +
  *     driver merge). At 100 TB this is bandwidth-bound and embarrassingly
  *     parallel — the right baseline.
  *   - [[withBucket]] / [[annTopK]]: random-hyperplane LSH (sign buckets).
  *     Bucket ids are computed once at write time and persisted or
  *     partitioned on; a query probes only buckets within Hamming distance
  *     `probeRadius` — pruning the scan by ~2^planes/Σ(C(planes,r)).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component in [-0.5, 0.5) —
    * fixed LCG, stable across sessions/engines (no RNG state).
    */
  private def planeComponent(r: Int, j: Int): Double = {
    val x = (1103515245L * (r.toLong * 131L + j.toLong + 1L) + 12345L) & 0x7fffffffL
    x.toDouble / 0x80000000L.toDouble - 0.5
  }

  private def planeLit(r: Int, dim: Int): Column =
    array((0 until dim).map(j => lit(planeComponent(r, j))): _*)

  /** The deterministic hyperplane constants — exposed so independent
    * implementations (the DuckDB oracle) can reproduce bucket assignment.
    */
  def planeValues(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)(planeComponent)

  /** Sign-bucket id from `planes` fixed hyperplanes (bit r = sign of the
    * projection on plane r).
    */
  def bucketCol(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { r =>
      when(VectorFunctions.dot(vec, planeLit(r, dim)) >= 0, lit(1L << r)).otherwise(lit(0L))
    }.reduce(_ + _)

  def withBucket(df: DataFrame, vecCol: String, planes: Int, dim: Int): DataFrame =
    df.withColumn("bucket", bucketCol(col(vecCol).cast("array<double>"), planes, dim))

  /** Exact cosine top-k of every corpus row against a single-row query
    * frame holding `qv: array<double>`.
    */
  def cosineTopK(corpus: DataFrame, vecCol: String, query: DataFrame, k: Int): DataFrame =
    corpus
      .crossJoin(broadcast(query))
      .withColumn("score", VectorFunctions.cosine(col(vecCol).cast("array<double>"), col("qv")))
      .orderBy(col("score").desc)
      .limit(k)

  private def l2Normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    v.map(_ * inv)
  }

  /** At most this many training rows per centroid (FAISS's default cap):
    * a k-means fit trains on at most `256·k` rows at any input size.
    */
  val SampleRowsPerCentroid = 256

  /** The training sample of a `k`-centroid fit: the non-null values of
    * `vec` (as `array<double>`) first in `(xxhash64(seed, v), v)` order, at
    * most [[SampleRowsPerCentroid]]`·k` of them — every row below the cap.
    * One job (a per-partition top-k merged on the driver), and the same
    * rows in the same order whatever the frame's partitioning.
    */
  def trainingSample(df: DataFrame, vec: Column, k: Int, seed: Long): Array[Array[Double]] =
    df.select(vec.cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
      .orderBy(xxhash64(lit(seed), col("v")), col("v"))
      .limit(SampleRowsPerCentroid * k)
      .collect().map(_.getSeq[Double](0).toArray)

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  /** Index of the centroid minimizing `‖c‖² − 2·x·c` (the [[graft.functions
    * .VectorKernels.nearestCell]] / PqEncode arithmetic); ties go to the
    * lower index.
    */
  private def nearest(x: Array[Double], cs: Array[Array[Double]], cn2: Array[Double]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val cc = cs(c)
      var dot = 0.0
      var j = 0
      while (j < x.length) { dot += x(j) * cc(j); j += 1 }
      val d = cn2(c) - 2.0 * dot
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private val LloydRounds = 5

  /** Seeded k-means on the driver: k-means++ seeding, then at most
    * [[LloydRounds]] Lloyd rounds (fewer once no point changes cell). A centroid
    * is the mean of its members; an empty cluster keeps its centroid.
    * Fewer distinct points than `k` return the distinct points, in sample
    * order. Pure arithmetic over `points`: the same points give the same
    * centroids, bit for bit.
    */
  def kMeans(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    val distinct = points.map(_.toSeq).distinct
    if (distinct.length <= k) return distinct.map(_.toArray)
    val rnd = new java.util.Random(seed)
    val n = points.length
    val centers = new Array[Array[Double]](k)
    centers(0) = points(rnd.nextInt(n)).clone()
    // k-means++: each next seed is drawn with probability ∝ D², the squared
    // distance to the nearest seed so far
    val d2 = Array.fill(n)(Double.PositiveInfinity)
    for (c <- 1 until k) {
      var i = 0
      while (i < n) { d2(i) = math.min(d2(i), sqDist(points(i), centers(c - 1))); i += 1 }
      val r = rnd.nextDouble() * d2.sum
      var acc = 0.0
      var pick = -1
      i = 0
      while (pick < 0 && i < n) {
        acc += d2(i)
        if (d2(i) > 0.0 && acc > r) pick = i
        i += 1
      }
      // rounding can leave the draw past the last positive weight
      if (pick < 0) pick = d2.indices.maxBy(d2)
      centers(c) = points(pick).clone()
    }
    val dim = centers(0).length
    val cell = Array.fill(n)(-1)
    var round = 0
    var moved = true
    while (round < LloydRounds && moved) {
      val cn2 = graft.functions.VectorFunctions.centroidNorm2(centers)
      moved = false
      var i = 0
      while (i < n) {
        val c = nearest(points(i), centers, cn2)
        if (c != cell(i)) { cell(i) = c; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        i = 0
        while (i < n) {
          val s = sums(cell(i))
          val p = points(i)
          var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
          counts(cell(i)) += 1
          i += 1
        }
        for (c <- 0 until k if counts(c) > 0)
          centers(c) = sums(c).map(_ / counts(c))
      }
      round += 1
    }
    centers
  }

  /** IVF (inverted-file) centroids: spherical k-means over the corpus, so
    * a query probes only the `nProbe` cells whose centroids are closest —
    * the classic coarse-quantization ANN layout. Training is [[kMeans]] on
    * the driver over the L2-normalized [[trainingSample]] (one job, at
    * most 256·k rows); callers assign rows to cells with the portable
    * NearestCell kernel, once, at write time.
    */
  def ivfIndex(corpus: DataFrame, vecCol: String, k: Int,
      seed: Long = 42L): Array[Array[Double]] =
    // Spherical k-means: L2-normalize before clustering so Euclidean cells
    // align with cosine neighbourhoods (‖a−b‖² = 2−2·cos on the unit
    // sphere) — unnormalized cells split by magnitude and cost recall.
    kMeans(trainingSample(corpus,
      graft.functions.VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")),
      k, seed), k, seed)

  /** Distance-on-the-unit-sphere from a (pre-normalized) query to each
    * centroid, with the SAME arithmetic as [[graft.functions.VectorKernels
    * .nearestCell]] — one formula for write-time assignment, query-time
    * probe selection, and the SQL oracle replay.
    */
  def cellDistances(qn: Array[Double], centroids: Array[Array[Double]]): Array[Double] = {
    val cn2 = graft.functions.VectorFunctions.centroidNorm2(centroids)
    centroids.zipWithIndex.map { case (cc, i) =>
      var dot = 0.0
      var j = 0
      val m = math.min(qn.length, cc.length)
      while (j < m) { dot += qn(j) * cc(j); j += 1 }
      1.0 + cn2(i) - 2.0 * dot
    }
  }

  /** IVF search: probe the `nProbe` nearest cells, exact cosine within.
    * `cell` persisted as a partition column (see
    * [[graft.sources.VectorStore]]) makes the `isin` prune at the source.
    */
  def ivfTopK(
      indexed: DataFrame, vecCol: String,
      centroids: Array[Array[Double]],
      queryVec: Array[Double], k: Int, nProbe: Int): DataFrame = {
    val qn = l2Normalize(queryVec)
    // Same formula as write-time assignment ([[cellDistances]]); ties
    // break on the lower cell index — the order the oracle replays.
    val probes = cellDistances(qn, centroids).zipWithIndex
      .map { case (d, i) => (i, d) }
      .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1)
    indexed
      .filter(col("cell").isin(probes.toSeq: _*)) // cell/partition pruning
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"),
        array(queryVec.map(lit).toSeq: _*)))
      .orderBy(col("score").desc)
      .limit(k)
  }

  /** BATCH IVF search: N queries probe the persisted cell layout in ONE
    * job. Probe selection is fully distributed (no driver collect of
    * query vectors): each query's distance to every centroid is the SAME
    * portable identity as write-time assignment ([[cellDistances]] /
    * NearestCell), a per-query window keeps the `nProbe` nearest cells,
    * and the tiny (query_id, cell) probe frame broadcasts into an
    * equi-join against the cell-partitioned store — which Spark prunes at
    * runtime via dynamic partition pruning (the join-key analogue of
    * [[ivfTopK]]'s literal `isin`). Scoring + per-query top-k reuse the
    * bounded-heap reduction batch brute-force search uses
    * ([[SearchOps.reduceTopKPerQuery]]): only k·nQueries·nPartitions
    * survivors ever shuffle.
    */
  def ivfBatchTopK(
      indexed: DataFrame, vecCol: String,
      centroids: Array[Array[Double]],
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cn2 = VectorFunctions.centroidNorm2(centroids)
    val distsOverNv = array(centroids.indices.map { i =>
      lit(1.0) + lit(cn2(i)) - lit(2.0) * VectorFunctions.dot(
        col("nv"), array(centroids(i).map(lit).toIndexedSeq: _*))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    val probes = queries
      .withColumn("nv", VectorFunctions.l2Normalize(col("qv")))
      .select(col("query_id"), col("qv"),
        posexplode(distsOverNv).as(Seq("cell", "dist")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    val scored = indexed
      .join(broadcast(probes), Seq("cell"))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"), col("qv")))
      .drop(vecCol, "qv")
    graft.operators.SearchOps.reduceTopKPerQuery(scored, k, idCol = "vec_id")
  }

  /** [[ivfBatchTopK]] at EVERY probe budget in `probes`, from ONE scored
    * pass — the recall-curve form (q121's sweep). The store is scanned and
    * cosine-scored once at the LARGEST budget with each row carrying its
    * cell's probe rank; every smaller budget is a rank filter over that
    * snapshot, so the per-tier (query, vec) sets — and therefore the
    * per-tier top-k under the shared (score DESC, vec_id ASC) tie-break —
    * are row-identical to running [[ivfBatchTopK]] per tier (which is
    * exactly how the DuckDB oracle replays the curve: rank once, filter
    * per tier). r17 OPT: the per-tier form scanned + re-scored the store
    * once per budget (§1.2: don't run N passes where one suffices).
    * Returns (nprobe, query_id, vec_id, score, ...).
    */
  def ivfBatchTopKCurve(
      indexed: DataFrame, vecCol: String,
      centroids: Array[Array[Double]],
      queries: DataFrame, k: Int, probes: Seq[Int]): DataFrame = {
    require(probes.nonEmpty, "probes must be non-empty")
    val cn2 = VectorFunctions.centroidNorm2(centroids)
    val distsOverNv = array(centroids.indices.map { i =>
      lit(1.0) + lit(cn2(i)) - lit(2.0) * VectorFunctions.dot(
        col("nv"), array(centroids(i).map(lit).toIndexedSeq: _*))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    val probeF = queries
      .withColumn("nv", VectorFunctions.l2Normalize(col("qv")))
      .select(col("query_id"), col("qv"),
        posexplode(distsOverNv).as(Seq("cell", "dist")))
      .withColumn("__cell_rank", row_number().over(w))
      .filter(col("__cell_rank") <= probes.max)
      .select(col("query_id"), col("qv"), col("cell"), col("__cell_rank"))
    val scored = indexed
      .join(broadcast(probeF), Seq("cell"))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"), col("qv")))
      .drop(vecCol, "qv")
    // a row in a cell of rank r serves every tier p >= r: explode each
    // scored row to its applicable tiers and run ONE bounded-heap top-k
    // reduction keyed by (tier, query) — no per-tier subtree, no barrier,
    // and the shuffle stays k·|queries|·|tiers|·partitions-bounded
    curveReduce(scored, "__cell_rank", probes, k, "nprobe")
  }

  /** Shared tail of the curve forms: explode each scored row (carrying
    * its rank under `rankCol`) to every tier in `tiers` at or above that
    * rank, then one [[SearchOps.reduceTopKPerQuery]] keyed by the
    * composite struct(tier, query_id) — the per-tier result is
    * row-identical to reducing each tier's filtered subset separately
    * (same candidate sets, same (score DESC, id ASC) tie-break), for any
    * query id type.
    */
  private[graft] def curveReduce(scored: DataFrame, rankCol: String,
      tiers: Seq[Int], k: Int, tierCol: String): DataFrame = {
    val tierArr = array(tiers.sorted.map(lit): _*)
    val exploded = scored
      .withColumn(tierCol,
        explode(filter(tierArr, p => p >= col(rankCol))))
      .drop(rankCol)
      .withColumn("query_id",
        struct(col(tierCol).as("tier"), col("query_id").as("id")))
    graft.operators.SearchOps.reduceTopKPerQuery(exploded, k, idCol = "vec_id")
      .withColumn("query_id", col("query_id.id"))
  }

  /** PQ search: ADC candidate generation over the CODES table (m bytes per
    * vector — the scan that stays cheap at 100 TB), then exact-cosine
    * rerank of the `rerank` survivors against the full vectors. The query
    * LUT `lut[m][c] = qn_m · codebook[m][c]` is m·ksub doubles computed
    * driver-side; the candidate frame (ids only) broadcasts into the
    * rerank join, so the full-vector table is probed, never scanned into a
    * shuffle. Ties at the ADC cutoff and the final cutoff break on vec_id
    * — the order the SQL replay pins.
    */
  def pqLut(queryVec: Array[Double],
      codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val qn = l2Normalize(queryVec)
    val dsub = codebooks(0)(0).length
    Array.tabulate(codebooks.length, codebooks(0).length) { (mi, c) =>
      var s = 0.0
      var j = 0
      while (j < dsub) { s += qn(mi * dsub + j) * codebooks(mi)(c)(j); j += 1 }
      s
    }
  }

  def pqTopK(
      codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      corpus: DataFrame, vecCol: String,
      queryVec: Array[Double], k: Int, rerank: Int): DataFrame = {
    val cand = codes
      .withColumn("adc", VectorFunctions.pqAdc(col("codes"),
        pqLut(queryVec, codebooks)))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
      .select("vec_id")
    corpus
      .join(broadcast(cand), Seq("vec_id"))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"),
        array(queryVec.map(lit).toSeq: _*)))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ search — the two prunings composed, the standard billion-scale
    * layout: the query's `nProbe` nearest cells prune WHOLE PARTITIONS of
    * the cell-partitioned codes table (probe selection = the same portable
    * identity as write-time assignment), ADC ranks only the surviving
    * codes (m bytes each), and the top-`rerank` ids broadcast into an
    * exact-cosine rerank. Scan cost ≈ corpus · (nProbe/k) · (m/dim·8) of
    * the float-vector bytes — two multiplicative reductions before any
    * full vector is touched.
    */
  def ivfPqTopK(
      codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      centroids: Array[Array[Double]],
      corpus: DataFrame, vecCol: String,
      queryVec: Array[Double], k: Int, nProbe: Int, rerank: Int): DataFrame = {
    val qn = l2Normalize(queryVec)
    val probes = cellDistances(qn, centroids).zipWithIndex
      .map { case (dist, i) => (i, dist) }
      .sortBy { case (i, dist) => (dist, i) }.take(nProbe).map(_._1)
    val cand = codes
      .filter(col("cell").isin(probes.toSeq: _*)) // partition pruning
      .withColumn("adc", VectorFunctions.pqAdc(col("codes"),
        pqLut(queryVec, codebooks)))
      .orderBy(col("adc").desc, col("vec_id")).limit(rerank)
      .select("vec_id")
    corpus
      .join(broadcast(cand), Seq("vec_id"))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"),
        array(queryVec.map(lit).toSeq: _*)))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCH PQ search: N queries score the codes table in ONE job — the
    * eval-fleet shape over the compressed layout. Each query's 8×16 LUT is
    * computed ONCE on the tiny query frame (sub-slice dots against the
    * codebook literals, same kernel arithmetic as write-time assignment)
    * and broadcast with it into the codes scan; per (vector, query) pair
    * the ADC score is just m table lookups folded in ascending-subspace
    * order. Candidates reduce through the shared bounded-heap
    * ([[SearchOps.reduceTopKPerQuery]] — only rerank·nQueries·nPartitions
    * survivors shuffle), then broadcast back into an exact-cosine rerank
    * of the full vectors.
    */
  /** [[pqBatchTopK]] at EVERY rerank budget in `reranks`, from ONE ADC
    * pass and ONE exact-cosine rerank — the recall-curve form (q128's
    * sweep). The codes table is ADC-scored once; each (query, vec) carries
    * its ADC rank under the shared (score DESC, vec_id ASC) tie-break, so
    * tier r's candidate set — the ADC top-r — is a rank filter, and the
    * exact-cosine rerank over the LARGEST tier's candidates covers every
    * smaller tier (a subset). Row-identical per tier to [[pqBatchTopK]]
    * (the DuckDB oracle replays the curve the same way: rank once, filter
    * per tier). r17 OPT: the per-tier form re-scanned the codes and
    * re-probed the full vectors once per budget.
    * Returns (rerank, query_id, vec_id, label, score).
    */
  def pqBatchTopKCurve(
      codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      corpus: DataFrame, vecCol: String,
      queries: DataFrame, k: Int, reranks: Seq[Int]): DataFrame = {
    require(reranks.nonEmpty, "reranks must be non-empty")
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val lutCol = array((0 until m).map { mi =>
      array((0 until ksub).map { c =>
        VectorFunctions.dot(
          slice(col("nv"), mi * dsub + 1, dsub),
          array(codebooks(mi)(c).map(lit).toIndexedSeq: _*))
      }: _*)
    }: _*)
    val qlut = queries
      .withColumn("nv", VectorFunctions.l2Normalize(col("qv")))
      .select(col("query_id"), lutCol.as("lut"))
    val adcScored = codes
      .crossJoin(broadcast(qlut))
      .withColumn("score", aggregate(
        sequence(lit(0), lit(m - 1)),
        lit(0.0),
        (acc, mi) => acc + element_at(
          element_at(col("lut"), mi + 1),
          element_at(col("codes"), mi + 1).cast("int") + 1)))
      .select(col("query_id"), col("vec_id"), col("score"))
    // ADC rank once — the same (score DESC, vec_id ASC) order every
    // per-tier reduceTopKPerQuery cut used, so filter(rank <= r) IS the
    // ADC top-r candidate set of tier r. r18 (verdict #3): the cut runs
    // through the bounded-heap reduceTopKPerQuery, whose `rank` is the
    // identical row_number over the identical ordering — the r17 form
    // ranked the CORPUS-sized codes×queries frame with a bare window,
    // i.e. one single-task sort per query at scale (§2/§5); now only
    // reranks.max·|queries|·|partitions| survivor rows ever shuffle.
    val cand = graft.operators.SearchOps
      .reduceTopKPerQuery(adcScored, reranks.max, idCol = "vec_id")
      .select(col("query_id"), col("vec_id"), col("rank").as("__adc_rank"))
    // exact-cosine rerank ONCE over the max tier's candidates (smaller
    // tiers are rank-filtered subsets), then the shared exploded-tier
    // reduction — one job, no per-tier subtree
    val rr = corpus
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("label"), col("score"),
        col("__adc_rank"))
    curveReduce(rr, "__adc_rank", reranks, k, "rerank")
  }

  def pqBatchTopK(
      codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      corpus: DataFrame, vecCol: String,
      queries: DataFrame, k: Int, rerank: Int): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val lutCol = array((0 until m).map { mi =>
      array((0 until ksub).map { c =>
        VectorFunctions.dot(
          slice(col("nv"), mi * dsub + 1, dsub),
          array(codebooks(mi)(c).map(lit).toIndexedSeq: _*))
      }: _*)
    }: _*)
    val qlut = queries
      .withColumn("nv", VectorFunctions.l2Normalize(col("qv")))
      .select(col("query_id"), lutCol.as("lut"))
    val scored = codes
      .crossJoin(broadcast(qlut))
      .withColumn("score", aggregate(
        sequence(lit(0), lit(m - 1)),
        lit(0.0),
        (acc, mi) => acc + element_at(
          element_at(col("lut"), mi + 1),
          element_at(col("codes"), mi + 1).cast("int") + 1)))
      .select(col("query_id"), col("vec_id"), col("score"))
    val cand = graft.operators.SearchOps
      .reduceTopKPerQuery(scored, rerank, idCol = "vec_id")
      .select(col("query_id"), col("vec_id"))
    val rr = corpus
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"), col("qv")))
      .select(col("query_id"), col("vec_id"), col("label"), col("score"))
    graft.operators.SearchOps.reduceTopKPerQuery(rr, k, idCol = "vec_id")
  }

  /** The query vector's sign bucket, computed driver-side — the same
    * plane-by-plane dot products as [[bucketCol]] (bit-identical IEEE
    * order), so probe enumeration matches at-rest bucket assignment.
    */
  def bucketOf(qv: Array[Double], planes: Int, dim: Int): Long = {
    var bucket = 0L
    var r = 0
    while (r < planes) {
      var s = 0.0
      var j = 0
      val n = math.min(dim, qv.length)
      while (j < n) { s += qv(j) * planeComponent(r, j); j += 1 }
      if (s >= 0) bucket |= 1L << r
      r += 1
    }
    bucket
  }

  /** All bucket ids within `radius` Hamming bits of `qbucket` —
    * ΣC(planes,r) of the 2^planes ids; the probe list for an `isin` that a
    * bucket-partitioned table prunes at the source.
    */
  def probeBuckets(qbucket: Long, planes: Int, radius: Int): Seq[Long] =
    (0L until (1L << planes))
      .filter(b => java.lang.Long.bitCount(b ^ qbucket) <= radius)

  /** Approximate cosine top-k: enumerate the Hamming ball around the
    * query's bucket and scan ONLY those buckets (`isin` → partition
    * pruning on a [[graft.sources.VectorStore]] layout — the previous
    * `bit_count(bucket XOR qbucket)` filter was a full scan).
    */
  def annTopK(
      corpusWithBucket: DataFrame, vecCol: String, queryVec: Array[Double],
      k: Int, planes: Int, dim: Int, probeRadius: Int = 1): DataFrame = {
    val probes = probeBuckets(bucketOf(queryVec, planes, dim), planes, probeRadius)
    corpusWithBucket
      .filter(col("bucket").isin(probes: _*))
      .withColumn("score", VectorFunctions.cosine(
        col(vecCol).cast("array<double>"),
        array(queryVec.map(lit).toSeq: _*)))
      .orderBy(col("score").desc)
      .limit(k)
  }
}
