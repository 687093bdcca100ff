package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate & exact nearest-neighbor search over embedding columns
  * (`array<float>`), for training-data similarity/retrieval pipelines.
  *
  * Vector math is expressed with `zip_with`/`aggregate` higher-order
  * functions — codegen'd per-row loops, no UDF serialization, no driver
  * collect. Layouts:
  *   - brute force: broadcast the (small) query set against the corpus —
  *     one map-side pass over the corpus, a top-k window per query;
  *   - LSH-bucketed: random-hyperplane sign buckets co-partition corpus and
  *     probes, so each probe only scans its bucket (the 100 TB path).
  */
object Similarity {

  def dot(a: Column, b: Column): Column = graft.exts.exprs.dotProduct(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Single fused codegen loop (dot + both norms in one pass) — see
    * graft.exts.CosineSimilarity; ~3× fewer array scans than the HOF form. */
  def cosine(a: Column, b: Column): Column = graft.exts.exprs.cosineSim(a, b)

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v))

  /** Deterministic pseudo-random unit-ish hyperplanes (LCG, fixed seed) —
    * literal arrays baked into the plan, broadcast-free. */
  private[graft] def randomPlanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Seq.fill(planes)(Seq.fill(dim)(next()))
  }

  /** Sign-bit bucket id of `v` under `planes` fixed random hyperplanes.
    * Dimension-agnostic: each plane's coefficients are cycled with pmod, so
    * any vector length works against the same literal plane matrix. */
  def hyperplaneBucket(v: Column, planes: Int, seed: Long = 7L, dim: Int = 64): Column = {
    val mat = randomPlanes(planes, dim, seed)
    val bits = mat.zipWithIndex.map { case (plane, i) =>
      val planeArr = array(plane.map(lit): _*)
      // Cycle the dim coefficients over vectors of ANY length: element i of v
      // pairs with plane[i mod dim] (1-based element_at). zip_with against a
      // fixed-length plane would null-pad mismatched lengths and collapse
      // every row into bucket 0.
      val proj = aggregate(
        transform(v, (x, i) => x.cast("double") * element_at(planeArr, pmod(i, lit(dim)) + 1)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Exact brute-force top-k cosine neighbors for each probe vector.
    * `probes` is expected to be small → explicitly broadcast; the corpus is
    * scanned once map-side, then one shuffle ranks per probe. */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      k: Int): DataFrame = {
    val p = broadcast(probes.select(col(probeId).as("probe_id"), col(probeVec).as("probe_vec")))
    topK(corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .crossJoin(p), k)
  }

  /** LSH-bucketed approximate top-k: corpus and probes are both assigned
    * hyperplane buckets; candidate scan = bucket-equi-join (shuffle on the
    * bucket key; at scale, pre-bucket + bucketBy table layout makes this a
    * co-located join with zero probe-time corpus shuffle). */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      k: Int, planes: Int = 6, seed: Long = 7L): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("bucket", hyperplaneBucket(col("cv"), planes, seed))
    val p = broadcast(probes.select(col(probeId).as("probe_id"), col(probeVec).as("probe_vec"))
      .withColumn("bucket", hyperplaneBucket(col("probe_vec"), planes, seed)))
    topK(c.join(p, Seq("bucket")), k)
  }

  /** Scores candidate (cv, probe_vec) pairs by cosine and keeps each
    * probe's k best, ordered (cosine desc nulls last, neighbor_id asc),
    * with a 0-based rank. */
  private def topK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc_nulls_last, col("neighbor_id").asc)
    candidates
      .withColumn("cosine", cosine(col("cv"), col("probe_vec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cosine"), (col("rk") - 1).as("rank"))
  }

  /** Literal centroid set as an array of (cell, cv) structs — plan
    * constants, no broadcast machinery needed. */
  private def centroidArray(centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (cvec, i) =>
      struct(lit(i).as("cell"), array(cvec.map(lit): _*).as("cv"))
    }: _*)

  /** Cell ids of the `n` nearest centroids to `v` (L2, ties by cell id —
    * the same struct sort the DuckDB oracles mirror with LIST_SORT). */
  private def nearestCells(centArr: Column, v: Column, n: Int): Column =
    slice(transform(array_sort(transform(centArr, c =>
      struct(l2Distance(v, c.getField("cv")).as("d"), c.getField("cell").as("cell")))),
      s => s.getField("cell")), 1, n)

  /** One Lloyd k-means update: nearest-centroid assignment (map-side, the
    * centroids are plan literals) + per-cell mean, one hash aggregation of
    * k·dim values. Per-dimension sums run in DECIMAL(38,10) — exact and
    * order-independent, so the result is identical across partitionings,
    * retries, and engines (the oracle mirrors it bit-for-bit) — surfaced
    * as double. Returns (cell, n, centroid) for non-empty cells. */
  def kmeansStep(df: DataFrame, vec: String, centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val dim = centroids.head.size
    val centArr = centroidArray(centroids)
    val dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val means = (0 until dim).map(j =>
      (sum(element_at(col("__v"), j + 1).cast("double").cast(dec)).cast("double") /
        count(lit(1))).as(s"__m$j"))
    df.select(col(vec).as("__v"))
      .withColumn("cell", element_at(nearestCells(centArr, col("__v"), 1), 1))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), means: _*)
      .select(col("cell"), col("n"),
        array((0 until dim).map(j => col(s"__m$j")): _*).as("centroid"))
  }

  /** Distributed Lloyd's k-means over an embedding column — trains the
    * centroid set [[ivfTopK]] consumes, in-engine. Init is deterministic
    * and engine-stable: the k vectors with the smallest xxhash64(seed, id)
    * (a seeded sample without a sequential k-means++ pass — the standard
    * large-scale compromise; TakeOrdered, no full sort). Each iteration is
    * one map-side assignment pass + one k·dim aggregation — the DATA never
    * leaves the cluster, only k·dim doubles come back per round. Empty
    * cells keep their previous centroid. Stops early when no centroid
    * moves more than `tol` (L2). */
  def kmeans(
      df: DataFrame, id: String, vec: String,
      k: Int, iters: Int = 10, seed: Long = 7L,
      tol: Double = 1e-9): Seq[Seq[Double]] = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    def toVec(a: Any): Seq[Double] =
      a.asInstanceOf[scala.collection.Seq[Any]].toSeq
        .map(x => x.asInstanceOf[Number].doubleValue())
    var cents: Seq[Seq[Double]] = df
      .select(col(id).cast("string").as("__id"), col(vec).as("__v"))
      .orderBy(xxhash64(lit(seed.toString), col("__id")).asc, col("__id").asc)
      .limit(k)
      .collect().map(r => toVec(r.get(1))).toSeq
    require(cents.size == k, s"need at least $k rows to seed $k centroids")
    var it = 0
    var moved = Double.MaxValue
    while (it < iters && moved > tol) {
      val updated = kmeansStep(df, vec, cents)
        .select(col("cell"), col("centroid"))
        .collect().map(r => r.getInt(0) -> toVec(r.get(1))).toMap
      val next = cents.indices.map(i => updated.getOrElse(i, cents(i)))
      moved = cents.zip(next).map { case (a, b) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      cents = next
      it += 1
    }
    cents
  }

  /** Nearest-centroid cell id for one vector (map-side: the centroids are
    * plan literals; L2 distance, ties broken by cell id — the same struct
    * sort the DuckDB oracles mirror with LIST_SORT). The assignment
    * primitive shared by [[ivfTopK]] and Dedup.semanticDupPairs. */
  def cellOf(v: Column, centroids: Seq[Seq[Double]]): Column =
    element_at(nearestCells(centroidArray(centroids), v, 1), 1)

  /** IVF-style coarse quantization: assign every corpus vector to its
    * nearest of `centroids` (a small literal set — sampled offline or
    * trained in-engine by [[kmeans]]), probes search only the nProbe
    * nearest cells. */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      centroids: Seq[Seq[Double]], k: Int, nProbe: Int = 2): DataFrame = {
    val centArr = centroidArray(centroids)
    def nearestCells(v: Column, n: Int): Column =
      this.nearestCells(centArr, v, n)

    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("cell", element_at(nearestCells(col("cv"), 1), 1))
    val p = broadcast(probes.select(col(probeId).as("probe_id"), col(probeVec).as("probe_vec"))
      .withColumn("cell", explode(nearestCells(col("probe_vec"), nProbe))))
    topK(c.join(p, Seq("cell")), k)
  }
}
