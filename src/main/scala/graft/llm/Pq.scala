package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineNative

/** Product quantization for ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI'11 — the PQ part; the IVF part is
  * [[Similarity.kmeansCentroids]]).
  *
  * A flat IVF cell stores full float vectors (64 dims × 4 B = 256 B each)
  * and every probe reads all of them. PQ stores `m` sub-codes instead —
  * the vector is split into m subvectors, each quantized to one of `k`
  * learned codes (the m=16, k=16 default → 16 × 4 bits = 8 B logical per
  * vector, 32× less than the floats) — and a probe scores candidates
  * WITHOUT touching
  * the floats: ADC (asymmetric distance computation) precomputes a tiny
  * m×k lookup table of dot products between the query's subvectors and
  * every codebook entry, so a candidate's approximate cosine is m table
  * lookups. Exact rerank of the short list then restores accuracy.
  *
  * Scale shapes:
  *  - TRAIN runs Lloyd on a deterministic bounded SAMPLE driver-side (the
  *    standard recipe — codebooks are statistics, not data; sampleSize ×
  *    dims floats of driver memory);
  *  - ENCODE is one map-side pass: codebooks are inlined literals, the
  *    per-row argmin runs in Catalyst HOFs (no shuffle, no join). At
  *    deployment the codes column is what the in-cell index stores;
  *  - ADC scoring is one map-side pass over the codes (m lookups per row
  *    into a broadcast-literal LUT) feeding TakeOrderedAndProject — the
  *    floats are only read for the `rerank`-sized short list (in a
  *    deployed index: a point-lookup fetch by vec_id, the
  *    [[Similarity.sidecarPath]] pattern).
  *
  * Like the k-means quantizer, results are repeatable-up-to-fp, hence
  * ScalaTest-gated (PqSpec) + probed (AnnRecallProbe), not oracle-hashed.
  */
object Pq {

  /** Learned PQ model: `codebooks(j)(c)` is the subDim-length centroid for
    * code c of subquantizer j, over L2-NORMALIZED inputs. */
  final case class Model(m: Int, k: Int, subDim: Int,
                         codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.length == m && codebooks.forall(_.length == k))
    /** Logical bytes per encoded vector (ceil of m·log2(k) bits). */
    def codeBytes: Int = (m * (32 - Integer.numberOfLeadingZeros(k - 1)) + 7) / 8
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Learn the m codebooks with Lloyd's algorithm on the `sampleSize`
    * lowest-vec_id vectors (deterministic sample, one bounded collect —
    * PQ codebooks are trained on a sample at any corpus size; m·k·subDim
    * doubles of model). k-means per subquantizer: deterministic init
    * (first k distinct subvectors), L2 assignment, empty clusters keep
    * their previous centroid. */
  def train(embeddings: DataFrame, dims: Int = 64, m: Int = 16, k: Int = 16,
            iters: Int = 8, sampleSize: Int = 4096): Model = {
    require(dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    val sample = embeddings.orderBy("vec_id").limit(sampleSize)
      .select("embedding").collect()
      .map(r => normalize(r.getSeq[Float](0).map(_.toDouble).toArray))
    require(sample.nonEmpty, "empty training sample")
    val codebooks = Array.tabulate(m) { j =>
      val subs = sample.map(_.slice(j * subDim, (j + 1) * subDim))
      // deterministic init: first k DISTINCT subvectors (pad by repeats if
      // the sample has fewer distinct values than codes). Compare by VALUE
      // — Array.distinct is reference equality on JVM arrays, a no-op.
      val init = subs.map(_.toSeq).distinct.take(k).map(_.toArray)
      var cb = Array.tabulate(k)(c => init(c % init.length))
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Long](k)
        subs.foreach { s =>
          var best = 0; var bestD = d2(s, cb(0)); var c = 1
          while (c < k) {
            val d = d2(s, cb(c)); if (d < bestD) { bestD = d; best = c }; c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += s(i); i += 1 }
        }
        cb = Array.tabulate(k)(c =>
          if (counts(c) == 0) cb(c) else sums(c).map(_ / counts(c)))
      }
      cb
    }
    Model(m, k, subDim, codebooks)
  }

  /** Append the `codes` column (array<int>, length m): code j = the L2
    * argmin codebook entry for subvector j of the normalized embedding.
    * Map-side only — one codegen'd loop per row
    * ([[graft.functions.expressions.PqEncode]]; the Catalyst-HOF
    * formulation was interpreted at m·k nested lambdas per row and
    * measured ~120 ms/row). The codebook rides to the expression as a
    * foldable array literal. */
  def encode(embeddings: DataFrame, model: Model,
             embCol: String = "embedding", out: String = "codes"): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(embeddings.sparkSession)
    val flat = model.codebooks.flatMap(_.flatMap(_.toSeq)).toSeq
    embeddings.withColumn(out,
      call_function("graft_pq_encode", col(embCol), typedlit(flat),
        lit(model.m), lit(model.k), lit(model.subDim)))
  }

  /** ADC top-k: approximate cosine = Σ_j LUT(j, code_j) where LUT(j, c) =
    * dot(query-subvector j, codebook(j)(c)) — m element_at lookups per
    * candidate, floats untouched; then exact-cosine rerank of the
    * `rerank`-sized short list. Both stages end in TakeOrderedAndProject.
    * Input must carry vec_id, the embedding column, and [[encode]]'s
    * codes. */
  /** ADC score Column for `codesCol` against a NORMALIZED query: the m×k
    * LUT of query-subvector · codebook-entry dots rides as one literal;
    * the score is m lookups + adds. Single definition — every ADC scorer
    * (in-memory and indexed) must drift together or not at all. */
  private def adcScore(model: Model, qn: Array[Double], codesCol: Column): Column = {
    val lut = Array.tabulate(model.m) { j =>
      Array.tabulate(model.k) { c =>
        val cb = model.codebooks(j)(c)
        var s = 0.0; var i = 0
        while (i < model.subDim) { s += qn(j * model.subDim + i) * cb(i); i += 1 }
        s
      }
    }
    aggregate(
      zip_with(codesCol, typedlit(lut.map(_.toSeq).toSeq), (c, l) => element_at(l, c + 1)),
      lit(0.0), (acc, v) => acc + v)
  }

  def adcTopK(encoded: DataFrame, probe: Array[Float], model: Model, kTop: Int,
              rerank: Int, embCol: String = "embedding",
              codesCol: String = "codes"): DataFrame = {
    require(rerank >= kTop, "rerank short list must be >= kTop")
    // the exact rerank uses the codegen graft_cosine — register it on this
    // frame's session (the Similarity entry-point pattern)
    graft.functions.expressions.GraftFunctions.register(encoded.sparkSession)
    val qn = normalize(probe.map(_.toDouble))
    val shortList = encoded
      .select(col("vec_id"), col(embCol), adcScore(model, qn, col(codesCol)).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
    shortList
      .select(col("vec_id"),
        round(cosineNative(col(embCol), lit(probe).cast("array<float>")), 3).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(kTop)
  }

  /** Persist an IVF+PQ index — the deployed layout the operator docs
    * promise: the CODES table (vec_id, codes) parquet-partitioned by
    * k-means cell (8 logical bytes per vector in the scanned partitions),
    * the full-float sidecar vec_id-sorted for point-lookup reranks
    * ([[Similarity.sidecarPath]]), plus `_centroids` and `_pq` model
    * sidecars so a probe needs no re-learning. */
  def writeIvfPqIndex(embeddings: DataFrame, path: String, cells: Int = 8,
                      iters: Int = 5, dims: Int = 64, m: Int = 16,
                      k: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    graft.functions.expressions.GraftFunctions.register(spark)
    val centroids = Similarity.kmeansCentroids(embeddings, cells, iters)
    val model = train(embeddings, dims, m, k, iters = iters)
    val assigned = Similarity.assignCells(embeddings, centroids)
    import spark.implicits._
    // the four index artifacts are independent writes to disjoint paths —
    // overlap them so each write's commit/straggler tail backfills with
    // the next one's tasks
    graft.core.Overlap.all(spark)(Seq(
      () => encode(assigned, model).select("vec_id", "cell", "codes")
        .write.mode("overwrite").partitionBy("cell").parquet(path),
      () => assigned.select("vec_id", "cell", "embedding")
        .repartitionByRange(col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").parquet(Similarity.sidecarPath(path)),
      () => centroids.toSeq.toDF("cell", "centroid")
        .write.mode("overwrite").parquet(Similarity.centroidsPath(path)),
      () => model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
          cb.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
        }.toSeq.toDF("j", "c", "centroid")
        .write.mode("overwrite").parquet(pqModelPath(path))))
    ()
  }

  /** PQ-model sidecar location for an index at `path`. */
  def pqModelPath(path: String): String = path.stripSuffix("/") + "_pq"

  /** Load the PQ model sidecar written by [[writeIvfPqIndex]]. */
  def readModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val sidecar = pqModelPath(path)
    val rows = spark.read.parquet(sidecar).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"PQ model sidecar at $sidecar is empty")
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val subDim = rows.head._3.length
    // a partially-written sidecar would otherwise surface much later as
    // an opaque NPE inside encode/adcScore — fail at load with the path
    require(rows.length == m * k,
      s"PQ model sidecar at $sidecar has ${rows.length} rows, expected " +
        s"m*k = ${m * k} — partial or corrupted write")
    val cb = Array.ofDim[Array[Double]](m, k)
    rows.foreach { case (j, c, cent) => cb(j)(c) = cent }
    for (j <- 0 until m; c <- 0 until k)
      require(cb(j)(c) != null,
        s"PQ model sidecar at $sidecar is missing codebook cell " +
          s"(subspace=$j, code=$c) — partial or corrupted write")
    Model(m, k, subDim, cb.map(_.toArray))
  }

  /** Probe a persisted IVF+PQ index with an explicit query vector: cell
    * selection from the tiny `_centroids` sidecar, a PARTITION-PRUNED
    * scan of only the nprobe cells' CODES (8 B/vector), ADC scoring, then
    * an exact rerank that fetches floats for just the `rerank` short-list
    * ids via a row-group-pruned point lookup on the sorted sidecar (the
    * id collect is ≤ rerank rows — metadata-scale). */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       probe: Array[Float], kTop: Int, nprobe: Int = 2,
                       rerank: Int = 64): DataFrame =
    ivfPqTopKIndexed(spark, path, readIndexModels(spark, path), probe, kTop,
      nprobe, rerank)

  /** The PQ model + coarse-centroid sidecars of an index, loaded once — a
    * multi-probe caller resolves them a single time instead of re-reading
    * both sidecars per probe. */
  def readIndexModels(spark: org.apache.spark.sql.SparkSession,
                      path: String): (Model, Array[(Int, Array[Double])]) =
    (readModel(spark, path),
      spark.read.parquet(Similarity.centroidsPath(path)).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray))

  /** [[ivfPqTopKIndexed]] with the index models preloaded via
    * [[readIndexModels]] — the per-probe work is then exactly two
    * partition-/row-group-pruned scans. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                       models: (Model, Array[(Int, Array[Double])]),
                       probe: Array[Float], kTop: Int, nprobe: Int,
                       rerank: Int): DataFrame = {
    require(rerank >= kTop, "rerank short list must be >= kTop")
    graft.functions.expressions.GraftFunctions.register(spark)
    val (model, centroids) = models
    val qn = normalize(probe.map(_.toDouble))
    def ccos(c: Array[Double]) =
      qn.zip(c.map(_.toFloat.toDouble)).map { case (a, b) => a * b }.sum
    val probeCells = centroids.map { case (cid, c) => (ccos(c), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2).toSeq
    val ids = spark.read.parquet(path)
      .filter(col("cell").isInCollection(probeCells))
      .select(col("vec_id"), adcScore(model, qn, col("codes")).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(rerank)
      .collect().map(_.getLong(0)).toSeq
    spark.read.parquet(Similarity.sidecarPath(path))
      .filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id"),
        round(cosineNative(col("embedding"), lit(probe).cast("array<float>")), 3).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(kTop)
  }

  /** IVF+PQ probe: scan only the `nprobe` nearest k-means cells (the
    * [[Similarity.ivfTopKKmeansMultiProbe]] cell selection), score the
    * in-cell candidates by ADC, exact-rerank the short list. The deployed
    * layout stores (vec_id, cell, codes) — codeBytes per vector in the
    * scanned cells — and fetches floats only for the short list. */
  def ivfPqTopK(embeddings: DataFrame, model: Model,
                centroids: Array[(Int, Array[Double])],
                probeId: Long, kTop: Int, nprobe: Int = 2,
                rerank: Int = 64): DataFrame = {
    graft.functions.expressions.GraftFunctions.register(embeddings.sparkSession)
    val assigned = Similarity.assignCells(embeddings, centroids)
    val probeRows = assigned.filter(col("vec_id") === probeId)
      .select(col("embedding"), col("cell")).collect()
    if (probeRows.isEmpty)
      return assigned.select(col("vec_id"), lit(0.0).as("cos")).limit(0)
    val pvec = probeRows(0).getSeq[Float](0).toArray
    val assignedCell = probeRows(0).getInt(1)
    val qn = normalize(pvec.map(_.toDouble))
    def cos(c: Array[Double]) =
      qn.zip(c.map(_.toFloat.toDouble)).map { case (a, b) => a * b }.sum
    val ranked = centroids.map { case (cid, c) => (cos(c), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.map(_._2)
    val probeCells =
      if (ranked.take(nprobe).contains(assignedCell)) ranked.take(nprobe)
      else ranked.take(nprobe - 1) :+ assignedCell
    val inCells = assigned
      .filter(col("cell").isInCollection(probeCells.toSeq) && col("vec_id") =!= probeId)
    adcTopK(encode(inCells, model), pvec, model, kTop, rerank)
  }
}
