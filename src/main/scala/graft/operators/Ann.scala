package graft.operators

import scala.util.Random

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** IVF (inverted-file) ANN index — the batch re-expression of the
  * reference's ANN indexes (reference: src/core/index/hnsw_index.rs,
  * usearch_index.rs; IndexFactory keying in index_factory.rs:72-168).
  *
  * HNSW is a pointer-chasing graph and anti-Spark; the idiomatic
  * distributed equivalent with the same contract (approximate k-NN with
  * tunable recall) is IVF: KMeans centroids as a coarse quantizer, a
  * cluster-id column as the "index", and nprobe-of-K cluster pruning at
  * search. At 100 TB the cluster id becomes a parquet partition column
  * ([[IvfIndex.writePartitioned]]) so pruning happens at file-listing
  * time — the scan never touches the (K - nprobe)/K excluded fraction.
  *
  * nprobe = K degenerates to exact brute force, which is what lets the
  * DuckDB oracle hash-match `ann_ivf_exact` while `ann_ivf` keeps the
  * approximate fast path.
  */
object IvfIndex {

  /** Observability: real KMeans runs (cache misses) — the no-refit
    * properties on the maintained-GRAPH lifecycle assert a maintenance
    * verb never bumps this.
    */
  private[graft] val fitRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fit K centroids on a bounded sample (invariant to total table size —
    * at 100 TB this still fits one executor's sample). MLlib KMeans with a
    * fixed seed; centroids come back as plain float matrices so search
    * needs no MLlib at all.
    */
  def fit(emb: DataFrame, vecCol: String, k: Int, seed: Long = 42L,
          maxSample: Long = 100000L): Array[Array[Float]] = {
    fitRuns.incrementAndGet()
    val n = emb.count()
    if (n == 0L) return Array.empty // empty index: caller degrades to FLAT
    val frac = math.min(1.0, maxSample.toDouble / math.max(1L, n))
    val sampled = if (frac < 1.0) emb.sample(withReplacement = false, frac, seed) else emb
    val vecs = sampled.select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val kEff = math.max(1, math.min(k.toLong, n).toInt)
    val model = new KMeans().setK(kEff).setSeed(seed).setMaxIter(8).fit(vecs)
    model.clusterCenters.map(_.toArray.map(_.toFloat))
  }

  /** Built-index registry keyed by (input plan, vecCol, k) — the batch
    * analog of the reference's IndexFactory cache (reference:
    * src/core/index_factory.rs:72-168, global registry of built
    * indexes): repeated searches against the same table reuse the fitted
    * coarse quantizer instead of re-running KMeans.
    */
  private val fitted = new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  def fitCached(emb: DataFrame, vecCol: String, k: Int, seed: Long = 42L): Array[Array[Float]] =
    // keyed on the input's CONTENT fingerprint AND the plan hash (two
    // different filters over the same files never share), so a mid-JVM
    // rewrite of the table refits instead of serving the stale
    // quantizer — the Artifacts staleness discipline applied to the
    // in-memory fitted parameters too
    fitted.computeIfAbsent(
      Artifacts.fingerprintInput(emb,
        s"ivf $vecCol $k $seed ${emb.queryExecution.analyzed.semanticHash()}"),
      _ => fit(emb, vecCol, k, seed))

  /** K scaled with the data: K = max(minK, ⌈n / targetClusterSize⌉), so
    * expected cluster size — and with it the Σ|cluster|² per-task work of
    * cluster-blocked operators like [[Knn.knnJoinIvf]] — stays BOUNDED as
    * the table grows. A fixed K breaks that premise: at 100× data each
    * cluster is 100× larger and block-local pair work grows 10,000×.
    * Returns the fitted K alongside the centroids (callers thread it to
    * probes/oracles). Counting n is a metadata-only pass on parquet.
    */
  def fitScaled(emb: DataFrame, vecCol: String, targetClusterSize: Long,
                minK: Int = 16, seed: Long = 42L): Array[Array[Float]] = {
    val n = emb.count()
    val k = math.max(minK.toLong, (n + targetClusterSize - 1) / targetClusterSize)
    fitCached(emb, vecCol, math.min(k, Int.MaxValue.toLong).toInt, seed)
  }

  /** Cluster-assignment column (codegen'd; the "index build" map pass). */
  def assign(vec: Column, centroids: Array[Array[Float]]): Column =
    graft.functions.nearestCentroid(vec, centroids)

  /** Driver-side coarse quantization of the query: the nprobe nearest
    * centroid ids, by L2, ties to lower id. Centroids are tiny (K × dim
    * floats) so this is O(K·dim) on the driver — no job.
    */
  def probes(queryVec: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var acc = 0.0; var j = 0
      val n = math.min(c.length, queryVec.length)
      while (j < n) { val d = queryVec(j).toDouble - c(j).toDouble; acc += d * d; j += 1 }
      (acc, i)
    }.sortBy(identity).take(math.min(nprobe, centroids.length)).map(_._2).toSeq

  /** IVF search: prune to the nprobe probed clusters, then exact re-rank.
    * The cluster filter is a codegen'd predicate on the scan (and a
    * partition filter when the table is written via
    * [[writePartitioned]]); the re-rank is [[Knn.searchExact]]'s
    * TakeOrderedAndProject — so per-query cost is
    * O(data × nprobe / K + k log k), never a global sort.
    */
  def search(emb: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Float]], queryVec: Array[Float],
             k: Int, nprobe: Int, metric: String = "l2"): DataFrame = {
    val probed = probes(queryVec, centroids, nprobe)
    val pruned = emb.where(assign(col(vecCol), centroids).isin(probed: _*))
    Knn.searchExact(pruned, idCol, vecCol, queryVec, k, metric)
  }

  /** The 100 TB layout: materialize the table partitioned by cluster id so
    * [[readPruned]]'s `cluster IN (...)` predicate prunes at file-listing
    * time (partition pruning — zero IO for unprobed clusters).
    */
  def writePartitioned(emb: DataFrame, vecCol: String,
                       centroids: Array[Array[Float]], path: String): Unit =
    emb.withColumn("cluster", assign(col(vecCol), centroids))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)

  /** Tombstones ([[Tombstones.filter]], no-op without live deletions)
    * apply at every load, so a deleted id is absent from any search over
    * the layout without a rebuild; `idCol` names the layout's id column
    * for that anti-join — REQUIRED (no default) so a layout whose id
    * column differs fails at the call site, not at the first
    * tombstoned read.
    */
  def readPruned(spark: SparkSession, path: String, probed: Seq[Int],
                 idCol: String): DataFrame =
    Tombstones.filter(
      spark.read.parquet(path).where(col("cluster").isin(probed: _*)),
      path, idCol)

  /** Incremental maintenance of a [[writePartitioned]] layout: new rows
    * are quantized with the SAME centroids and appended into their
    * cluster partitions — the batch analog of the reference's
    * incremental inserts into a built index. No rewrite, no re-fit;
    * compaction is ordinary parquet-file hygiene per partition.
    */
  def appendPartitioned(emb: DataFrame, vecCol: String,
                        centroids: Array[Array[Float]], path: String): Unit =
    emb.withColumn("cluster", assign(col(vecCol), centroids))
      .write.mode("append").partitionBy("cluster").parquet(path)

  /** Persist the fitted coarse quantizer next to the data so a reload
    * skips KMeans entirely (the reference's index files surviving restart
    * alongside the RocksDB scalar store, src/db/scalar_storage.rs).
    * K × dim floats — a single tiny file.
    */
  def writeCentroids(spark: SparkSession, centroids: Array[Array[Float]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    // K tiny rows: collect then sort on the driver — the orderBy plan
    // paid an AQE shuffle round (2 extra scheduler jobs) per read for a
    // sort of a driver-sized array
    spark.read.parquet(path).select("cluster_id", "centroid").collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)

  /** Search a [[writePartitioned]] layout end-to-end: [[readPruned]]'s
    * partition filter means unprobed clusters cost zero IO (file-listing
    * prune, not a row filter), then exact re-rank over the survivors —
    * the serving path a restarted engine takes at 100 TB.
    */
  def searchPersisted(spark: SparkSession, path: String, idCol: String, vecCol: String,
                      centroids: Array[Array[Float]], queryVec: Array[Float],
                      k: Int, nprobe: Int, metric: String = "l2"): DataFrame = {
    val probed = probes(queryVec, centroids, nprobe)
    Knn.searchExact(readPruned(spark, path, probed, idCol), idCol, vecCol, queryVec, k, metric)
  }
}

/** Random-hyperplane LSH ANN index (reference analog: the second ANN
  * backend, usearch_index.rs). Deterministic seeded planes → an int
  * bucket column; search probes all buckets within a Hamming radius of
  * the query's bucket (multi-probe), then exact re-ranks. Like IVF, the
  * bucket is a pure map-side column — at scale it is the partition /
  * bucketing key, and candidate generation is a pruned scan, not a join.
  */
object LshIndex {

  /** nBits seeded Gaussian hyperplanes (deterministic: Random(seed)). */
  def planes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** `bands` independent hyperplane sets (one seeded stream) — the
    * cosine-LSH analog of MinHash banding: a pair is a candidate when it
    * shares the bucket in ANY band, so recall for high-cosine pairs is
    * 1 - (1 - p^nBits)^bands with p = 1 - θ/π.
    */
  def bandPlanes(bands: Int, nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Array[Float]]] = {
    val rnd = new Random(seed)
    Array.fill(bands)(Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  def bucket(vec: Column, planes: Array[Array[Float]]): Column =
    graft.functions.lshBucket(vec, planes)

  /** Driver-side bucket of the query vector. */
  def bucketOf(queryVec: Array[Float], planes: Array[Array[Float]]): Int = {
    var b = 0
    planes.indices.foreach { p =>
      var acc = 0.0; var i = 0
      val n = math.min(planes(p).length, queryVec.length)
      while (i < n) { acc += queryVec(i).toDouble * planes(p)(i).toDouble; i += 1 }
      if (acc > 0.0) b |= (1 << p)
    }
    b
  }

  /** All buckets within Hamming distance `radius` of `center`. */
  def probeBuckets(center: Int, nBits: Int, radius: Int): Seq[Int] =
    (0 until (1 << nBits)).filter(b => Integer.bitCount(b ^ center) <= radius)

  def search(emb: DataFrame, idCol: String, vecCol: String,
             planes: Array[Array[Float]], queryVec: Array[Float],
             k: Int, radius: Int, metric: String = "l2"): DataFrame = {
    val probed = probeBuckets(bucketOf(queryVec, planes), planes.length, radius)
    val pruned = emb.where(bucket(col(vecCol), planes).isin(probed: _*))
    Knn.searchExact(pruned, idCol, vecCol, queryVec, k, metric)
  }

  /** Banded (multi-table) LSH search: a vector is a candidate when, in
    * ANY band, its bucket is within Hamming `radius` of the query's
    * bucket in that band — recall 1 − (1 − p^nBits)^bands vs the
    * single-band p^nBits at equal total bits (the classic LSH
    * amplification trade: same memory, OR-construction recall). The
    * predicate is a pure map-side disjunction of bucket tests — still a
    * pruned scan + bounded top-k, never a join.
    */
  def searchBanded(emb: DataFrame, idCol: String, vecCol: String,
                   bandPlanes: Array[Array[Array[Float]]], queryVec: Array[Float],
                   k: Int, radius: Int, metric: String = "l2"): DataFrame = {
    val pred = bandPlanes.map { planes =>
      val probed = probeBuckets(bucketOf(queryVec, planes), planes.length, radius)
      bucket(col(vecCol), planes).isin(probed: _*)
    }.reduce(_ || _)
    Knn.searchExact(emb.where(pred), idCol, vecCol, queryVec, k, metric)
  }

  /** Banded persisted layout: one copy of every row PER BAND, partitioned
    * by (band, bucket) — the multi-band probe becomes a file-listing
    * prune over `bands × |Hamming ball|` partitions. Storage is ×bands
    * (the standard LSH amplification cost); any single band (e.g.
    * band=0) is a complete copy of the data.
    */
  def writeBandPartitioned(emb: DataFrame, vecCol: String,
                           bandPlanes: Array[Array[Array[Float]]], path: String): Unit =
    emb.select(col("*"),
        posexplode(array(bandPlanes.map(p => bucket(col(vecCol), p)): _*))
          .as(Seq("band", "bucket")))
      .write.mode("overwrite").partitionBy("band", "bucket").parquet(path)

  /** Search a [[writeBandPartitioned]]-shaped DataFrame (has band/bucket
    * partition columns): OR of per-band (band, bucket-ball) predicates —
    * both are partition columns, so the disjunction prunes at file
    * listing — then a by-id dedup (a row can match several bands) before
    * the exact re-rank.
    */
  def searchBandedPruned(state: DataFrame, idCol: String, vecCol: String,
                         bandPlanes: Array[Array[Array[Float]]], queryVec: Array[Float],
                         k: Int, radius: Int, metric: String = "l2"): DataFrame = {
    val pred = bandPlanes.zipWithIndex.map { case (planes, b) =>
      val probed = probeBuckets(bucketOf(queryVec, planes), planes.length, radius)
      col("band") === b && col("bucket").isin(probed: _*)
    }.reduce(_ || _)
    Knn.searchExact(state.where(pred).dropDuplicates(idCol),
      idCol, vecCol, queryVec, k, metric)
  }

  /** The LSH twin of [[IvfIndex.writePartitioned]]: bucket as the parquet
    * partition column, so multi-probe search over a reloaded index prunes
    * at file-listing time. Planes are seed-deterministic, so only the
    * data needs persisting.
    */
  def writePartitioned(emb: DataFrame, vecCol: String,
                       planes: Array[Array[Float]], path: String): Unit =
    emb.withColumn("bucket", bucket(col(vecCol), planes))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  def searchPersisted(spark: SparkSession, path: String, idCol: String, vecCol: String,
                      planes: Array[Array[Float]], queryVec: Array[Float],
                      k: Int, radius: Int, metric: String = "l2"): DataFrame = {
    val probed = probeBuckets(bucketOf(queryVec, planes), planes.length, radius)
    val pruned = Tombstones.filter(
      spark.read.parquet(path).where(col("bucket").isin(probed: _*)), path, idCol)
    Knn.searchExact(pruned, idCol, vecCol, queryVec, k, metric)
  }
}

/** Binary (sign-bit) quantization index — the faiss IndexBinaryFlat
  * analog, completing the quantization family next to PQ and SQ8: each
  * float dimension contributes one sign bit, so a 64-dim vector is two
  * 32-bit words (8 bytes, 32× compression, no training at all).
  * Candidates rank by hamming distance — bit_count(xor) over the words,
  * pure built-in bitwise ops inside whole-stage codegen, exact integers
  * (no ties to float noise) — then the top `rerank` survivors re-rank by
  * true L2, vectors fetched BY ID. At 100 TB the sign words are the
  * persisted hot index (like [[PqIndex.writeCodes]]) and a hamming scan
  * reads 8 bytes/row; sign bits of centered data preserve cosine
  * neighborhoods (Charikar hyperplanes with the coordinate basis).
  */
object BinaryIndex {

  private val WordBits = 32

  /** The sign words of a vector: ⌈dim/32⌉ longs, bit j of word w set iff
    * vec[32w + j] > 0 (codegen map pass — the "encode" step).
    */
  def signWords(vec: Column, dim: Int): Seq[Column] =
    (0 until (dim + WordBits - 1) / WordBits).map { w =>
      graft.functions.signBits(vec, w * WordBits, math.min(WordBits, dim - w * WordBits))
    }

  /** Driver-side sign words of the query. */
  def signWordsOf(queryVec: Array[Float]): Array[Long] =
    queryVec.grouped(WordBits).map { grp =>
      grp.zipWithIndex.foldLeft(0L) { case (acc, (x, j)) =>
        if (x > 0.0f) acc | (1L << j) else acc
      }
    }.toArray

  /** Hamming-candidate scan + exact re-rank (shape mirrors
    * [[PqIndex.search]]: narrow integer TakeOrdered, then the exact
    * metric over the `rerank` survivors only, fetched by id via a
    * broadcast semi-join).
    */
  def search(emb: DataFrame, idCol: String, vecCol: String,
             queryVec: Array[Float], k: Int, rerank: Int,
             metric: String = "l2"): DataFrame = {
    require(rerank >= k)
    val qWords = signWordsOf(queryVec)
    val words = signWords(col(vecCol), queryVec.length)
    val ham = words.zip(qWords).map { case (w, qw) =>
      call_function("bit_count", w.bitwiseXOR(lit(qw)))
    }.reduceLeft(_ + _)
    val candidates = emb
      .select(col(idCol).as("cand_id"), ham.as("ham"))
      .orderBy(col("ham"), col("cand_id"))
      .limit(rerank)
      .select("cand_id")
    val pruned = emb.join(broadcast(candidates), col(idCol) === col("cand_id"), "leftsemi")
    Knn.searchExact(pruned, idCol, vecCol, queryVec, k, metric)
  }

  /** Batch hamming search — ONE sign-words scan serves all queries
    * (the binary member of the batch family beside
    * [[PqIndex.searchBatchAdc]]): both sides compute their sign words
    * map-side with the SAME codegen kernel, every (row, query) pair
    * costs ⌈dim/32⌉ XOR+popcounts, the per-query rerank cut is the
    * bounded-heap stratified aggregate, and [[Knn.rerankBatch]]
    * finishes under the index metric.
    */
  def searchBatch(emb: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  dim: Int, k: Int, rerank: Int,
                  metric: String = "l2"): DataFrame = {
    require(rerank >= k)
    val nWords = (dim + WordBits - 1) / WordBits
    val q = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"))
    val qWords = q.select(col("q_id") +:
      signWords(col("q_vec"), dim).zipWithIndex.map { case (c, i) => c.as(s"qw$i") }: _*)
    val rows = emb.select(col(idCol).as("cand_id") +:
      signWords(col(vecCol), dim).zipWithIndex.map { case (c, i) => c.as(s"w$i") }: _*)
    val ham = (0 until nWords).map { i =>
      call_function("bit_count", col(s"w$i").bitwiseXOR(col(s"qw$i")))
    }.reduceLeft(_ + _)
    val scored = rows.crossJoin(broadcast(qWords))
      .select(col("q_id"), col("cand_id"), ham.as("ham"))
    val cand = Stats.stratifiedSample(scored, "q_id", "cand_id", "ham", col("ham"), rerank)
      .select(col("stratum").as("q_id"), col("id").as("cand_id"))
    Knn.rerankBatch(emb, idCol, vecCol, cand, q, "q_id", "q_vec", k, metric)
  }
}
