package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions._

/** A scored candidate flowing into the top-k aggregator. */
case class Neighbor(id: Long, dist: Double)

/** Bounded top-k by (dist ASC, id ASC) as a partial-aggregable Aggregator.
  *
  * This is the Spark re-expression of the reference's k-NN search
  * (reference: src/router/handle/search_index_handle.rs:47-105): instead
  * of a per-query heap over an in-memory index, each *partition* keeps a
  * bounded buffer and ships at most 2k rows per group into the shuffle
  * (map-side combine), so shuffle volume is O(#queries × k) and
  * independent of base-table size — the property that matters at 100 TB.
  */
class TopKNeighbors(k: Int) extends Aggregator[Neighbor, Seq[Neighbor], Seq[Neighbor]] {
  private val cap = math.max(2 * k, 64)

  private def compact(buf: Seq[Neighbor]): Seq[Neighbor] =
    buf.sortBy(n => (n.dist, n.id)).take(k)

  override def zero: Seq[Neighbor] = Vector.empty

  override def reduce(buf: Seq[Neighbor], in: Neighbor): Seq[Neighbor] = {
    val next = buf :+ in
    if (next.size >= cap) compact(next) else next
  }

  override def merge(a: Seq[Neighbor], b: Seq[Neighbor]): Seq[Neighbor] = compact(a ++ b)

  override def finish(buf: Seq[Neighbor]): Seq[Neighbor] = compact(buf)

  override def bufferEncoder: Encoder[Seq[Neighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Neighbor]]()
  override def outputEncoder: Encoder[Seq[Neighbor]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Neighbor]]()
}

object Knn {

  /** Distance column for a metric name, matching index_factory.rs metrics.
    * "l2" = true L2 (ascending), "l2sq" = squared L2 (ascending, faiss FLAT),
    * "ip" = inner product (descending ⇒ negated so smaller is better),
    * "cosine" = cosine similarity (descending ⇒ negated).
    */
  def score(metric: String, a: Column, b: Column): Column = metric match {
    case "l2"     => vecL2(a, b)
    case "l2sq"   => vecL2Sq(a, b)
    case "ip"     => -vecDot(a, b)
    case "cosine" => -vecCosine(a, b)
    case other    => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Exact single-query k-NN (reference FLAT index search).
    *
    * `orderBy(...).limit(k)` lowers to TakeOrderedAndProject: a
    * per-partition bounded heap + driver merge of k rows per partition —
    * no global sort, no shuffle of the base table.
    *
    * Output: (rank, id, metric value rounded to 4dp), deterministic
    * tie-break on id.
    */
  def searchExact(
      base: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Array[Float],
      k: Int,
      metric: String): DataFrame = {
    val s = score(metric, col(vecCol), typedLit(queryVec))
    val flip = metric == "ip" || metric == "cosine"
    val scored = base
      .select(col(idCol).as("id"), s.as("score"))
      .orderBy(col("score"), col("id"))
      .limit(k)
    // rank assigned after the top-k cut; row_number over k rows is trivial.
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("score"), col("id"))))
      .select(col("rank"), col("id"),
        roundTo(if (flip) -col("score") else col("score"), 4).as("value"))
  }

  /** Batch k-NN: top-k per query row against the full base table.
    *
    * The query set is treated as corpus-proportional (in the serving flow
    * it IS a slice of the corpus), so it is NEVER broadcast — a broadcast
    * that grows linearly with the data OOMs the driver at 100× scale.
    * Instead the base hashes into `salts` groups and each query row
    * replicates into every group: a plain shuffle equi-join on the salt
    * key spreads the O(|base| × |queries|) distance work over
    * salts × partitions, and the [[TopKNeighbors]] partial agg merges the
    * per-salt heaps so the post-join shuffle stays O(#queries × k).
    * Replication cost is O(|queries| × salts) narrow rows — bounded and
    * chosen by the caller, unlike a broadcast which is unbounded.
    */
  /** excludeSelf drops base rows whose id equals the query id BEFORE
    * the top-k cut — the leave-self-out semantics retrieval truth sets
    * need. (Fetching k+1 and filtering afterwards is NOT equivalent:
    * with ≥ k+1 exact-duplicate vectors of lower id, self falls out of
    * the widened cut and the truth set gains a phantom row.)
    */
  def searchBatch(
      base: DataFrame,
      baseId: String,
      baseVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      metric: String,
      salts: Int = 32,
      excludeSelf: Boolean = false): DataFrame = {
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Neighbor])

    // explicit repartition pins HashPartitioning(salt, salts) on both
    // sides: pre-join rows are narrow, so AQE would coalesce the exchange
    // and collapse the quadratic work onto a few tasks.
    val left = queries
      .select(col(queryId).as("q_id"), col(queryVec).as("q_vec"))
      .withColumn("salt", explode(typedLit((0 until salts).toArray)))
      .repartition(salts, col("salt"))
    val right = base
      .select(col(baseId).as("id"), col(baseVec).as("b_vec"))
      .withColumn("salt", pmod(hash(col("id")), lit(salts)))
      .repartition(salts, col("salt"))

    val joined = left.join(right, Seq("salt"))
    val scored = (if (excludeSelf) joined.where(col("id") =!= col("q_id")) else joined)
      .select(
        col("q_id"),
        col("id"),
        score(metric, col("b_vec"), col("q_vec")).as("dist"))

    val flip = metric == "ip" || metric == "cosine"
    scored
      .groupBy(col("q_id"))
      .agg(topk(col("id"), col("dist")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col("q_id"),
        (col("pos") + 1).as("rank"),
        col("n.id").as("n_id"),
        roundTo(if (flip) -col("n.dist") else col("n.dist"), 4).as("value"))
  }

  /** Per-group top-k for one query — the diversity-retrieval shape
    * ("best k per label/source/shard" instead of a single global list):
    * the same [[TopKNeighbors]] bounded-heap partial aggregation keyed
    * by the group column, so the shuffle is O(groups × k) heaps and no
    * group is ever sorted whole (a window row_number would sort every
    * group's full candidate set at scale).
    */
  def searchGrouped(
      base: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String,
      queryVec: Array[Float],
      k: Int,
      metric: String): DataFrame = {
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Neighbor])
    val flip = metric == "ip" || metric == "cosine"
    base
      .select(col(groupCol), col(idCol).as("id"),
        score(metric, col(vecCol), typedLit(queryVec)).as("dist"))
      .groupBy(col(groupCol))
      .agg(topk(col("id"), col("dist")).as("nn"))
      .select(col(groupCol), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col(groupCol),
        (col("pos") + 1).as("rank"),
        col("n.id").as("id"),
        roundTo(if (flip) -col("n.dist") else col("n.dist"), 4).as("value"))
  }

  /** IVF-accelerated batch k-NN — the 100 TB batch-ANN shape: the base
    * table gets a cluster column (codegen map pass; at real scale the
    * parquet partition key), each query row explodes to its nprobe probe
    * clusters, and the join is an equi-join on cluster id — distance
    * math runs only on (query, probed-cluster) pairs, ~nprobe/K of the
    * cross product [[searchBatch]] scores. Partial top-k aggregation
    * keeps shuffle at O(#queries × k) as before.
    *
    * nprobe = centroids.length degenerates to exactly [[searchBatch]].
    */
  def searchBatchIvf(
      base: DataFrame,
      baseId: String,
      baseVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      centroids: Array[Array[Float]],
      k: Int,
      nprobe: Int,
      metric: String): DataFrame = {
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Neighbor])

    val clustered = base.withColumn("cluster", nearestCentroid(col(baseVec), centroids))
    val probed = queries.select(
      col(queryId).as("q_id"), col(queryVec).as("q_vec"),
      explode(nearestCentroids(col(queryVec), centroids, nprobe)).as("cluster"))

    // co-partitioned shuffle equi-join on cluster id, same shape as
    // [[knnJoinIvf]]: both sides are corpus-proportional, so neither is
    // ever broadcast-hinted (AQE may still pick a broadcast from RUNTIME
    // sizes at small SF — a size-based decision that reverses itself at
    // scale, unlike a forced hint).
    val scored = clustered.join(probed, "cluster")
      .select(
        col("q_id"),
        col(baseId).as("id"),
        score(metric, col(baseVec), col("q_vec")).as("dist"))

    val flip = metric == "ip" || metric == "cosine"
    scored
      .groupBy(col("q_id"))
      .agg(topk(col("id"), col("dist")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col("q_id"),
        (col("pos") + 1).as("rank"),
        col("n.id").as("n_id"),
        roundTo(if (flip) -col("n.dist") else col("n.dist"), 4).as("value"))
  }

  /** k-NN GRAPH build (all-pairs top-k self-join) — the artifact behind
    * embedding dedup at scale, kNN-graph ANN methods, and graph
    * clustering; faiss users build it with `knn(index, xb, xb)`.
    *
    * Neighbors are restricted to each vector's own coarse IVF cluster
    * (single-probe), which turns the quadratic all-pairs problem into
    * Σ|cluster|² local work: both sides shuffle ONCE on cluster id
    * (co-partitioned equi-join — deliberately NOT broadcast: both sides
    * are corpus-sized), the pair rows live only inside the join stage
    * (vectors are consumed by the distance expression in the same
    * codegen stage, never shuffled as pairs), and the per-query top-k is
    * the [[TopKNeighbors]] partial agg ⇒ the only other shuffle is
    * O(n × k) bounded heaps. At 100 TB the cluster count scales with the
    * data (bounded |cluster|), keeping per-task work constant; vectors
    * alone in their cluster simply yield no edges (both engines agree).
    */
  /** EXACT k-NN graph (brute-force all-pairs), parallelized by salting:
    * base rows hash into `salts` groups, every query row replicates into
    * each group, and the per-query heaps partial-merge across groups —
    * so the O(n²) distance work spreads over `salts` × shuffle
    * partitions instead of collapsing onto one key the way a degenerate
    * single-cluster [[knnJoinIvf]] does. Still inherently quadratic —
    * this is the ground-truth leg for graph-recall evals at bench
    * scale, not a 100 TB path (that is [[knnJoinIvf]]'s job).
    */
  def knnJoinExact(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String,
      salts: Int = 32): DataFrame = {
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Neighbor])
    // explicit repartition on both sides: the pre-join salt tables are
    // tiny by bytes (pairs only explode inside the join), so an AQE-
    // coalesced shuffle would collapse the quadratic work back onto a
    // few tasks — pin HashPartitioning(salt, salts) on both sides so the
    // join runs one task per salt group with no extra exchange.
    val left = emb.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("salt", explode(typedLit((0 until salts).toArray)))
      .repartition(salts, col("salt"))
    val right = emb.select(col(idCol).as("id"), col(vecCol).as("n_vec"))
      .withColumn("salt", pmod(col("id"), lit(salts)).cast("int"))
      .repartition(salts, col("salt"))
    val scored = left.join(right, Seq("salt"))
      .where(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"), score(metric, col("n_vec"), col("q_vec")).as("dist"))
    val flip = metric == "ip" || metric == "cosine"
    scored
      .groupBy(col("q_id"))
      .agg(topk(col("id"), col("dist")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col("q_id"),
        (col("pos") + 1).as("rank"),
        col("n.id").as("n_id"),
        roundTo(if (flip) -col("n.dist") else col("n.dist"), 4).as("value"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick k results maximizing
    * λ·sim(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s) — the diversity
    * pass a retrieval stack runs on its candidate list before returning
    * it. Input = one row per (query, candidate) with both vectors;
    * output = (q_id, pick, vec_id, sc6) where pick is the 1-based
    * selection order and sc6 the λ-scaled score in 1e-7 units.
    *
    * Scale shape: the greedy loop is quadratic ONLY in the per-query
    * candidate-list length (a constant the caller fixed upstream with a
    * bounded top-k'), and runs inside `flatMapGroups` partitioned by
    * query — O(queries × k'²) work, perfectly parallel, no state beyond
    * one candidate list in memory at a time. mapGroups (not a Catalyst
    * expression) is the right tool here: the loop's argmax recursion is
    * inherently sequential per query and its input is already bounded.
    *
    * Cross-engine exactness: similarities are cosine in the exact
    * accumulation order of [[graft.functions.VecCosine]] fixed to 1e-6
    * integers via floor(x·1e6 + 0.5) of the BINARY double, and the
    * selection compares exact longs (λ = lambda10/10 so the score is
    * 10·λ·sim6 − 10·(1−λ)·max6, an integer) with ties to the smaller
    * candidate id — bit-reproducible in any engine.
    */
  def mmrDiversify(
      cands: DataFrame,
      qIdCol: String,
      cIdCol: String,
      qVecCol: String,
      cVecCol: String,
      k: Int,
      lambda10: Int): DataFrame = {
    require(k >= 1 && lambda10 >= 0 && lambda10 <= 10)
    val spark = cands.sparkSession
    import spark.implicits._
    val rows = cands
      .select(col(qIdCol).cast("long"), col(cIdCol).cast("long"),
        col(qVecCol), col(cVecCol))
      .as[(Long, Long, Seq[Float], Seq[Float])]
    rows.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cs = it.toArray.sortBy(_._2)
      // same op tree as VecCosine.nullSafeEval ⇒ bit-identical doubles
      def cos6(a: Array[Float], b: Array[Float]): Long = {
        val n = math.min(a.length, b.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        math.floor(c * 1e6 + 0.5).toLong
      }
      val qv = cs(0)._3.toArray
      val vecs = cs.map(_._4.toArray)
      val ids = cs.map(_._2)
      val simq = vecs.map(v => cos6(qv, v))
      val n = cs.length
      val taken = new Array[Boolean](n)
      // max similarity to the selected set so far, per candidate
      val maxSel = Array.fill(n)(Long.MinValue)
      val out = Vector.newBuilder[(Long, Int, Long, Long)]
      var step = 1
      while (step <= math.min(k, n)) {
        var best = -1; var bestSc = Long.MinValue
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val sc =
              if (step == 1) lambda10 * simq(i)
              else lambda10 * simq(i) - (10 - lambda10) * maxSel(i)
            if (sc > bestSc || (sc == bestSc && (best < 0 || ids(i) < ids(best)))) {
              best = i; bestSc = sc
            }
          }
          i += 1
        }
        taken(best) = true
        out += ((q, step, ids(best), bestSc))
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            val p = cos6(vecs(j), vecs(best))
            if (p > maxSel(j)) maxSel(j) = p
          }
          j += 1
        }
        step += 1
      }
      out.result()
    }.toDF("q_id", "pick", "vec_id", "sc6")
  }

  def knnJoinIvf(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]],
      k: Int,
      metric: String): DataFrame =
    ivfGraphEdges(emb, emb, idCol, vecCol, centroids, k, metric)

  /** The IVF-blocked edge kernel shared by the full graph build
    * ([[knnJoinIvf]]: queries = corpus) and incremental maintenance
    * ([[appendGraphEdges]]: queries = the ingested batch): both sides
    * assign to the SAME frozen centroids, candidates pair inside their
    * cluster (single-probe equi-join — Σ|cluster|² local work), and the
    * per-query top-k is the bounded-heap partial aggregate.
    */
  private[operators] def ivfGraphEdges(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]],
      k: Int,
      metric: String): DataFrame = {
    val left = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("cluster", nearestCentroid(col("q_vec"), centroids))
    val right = corpus.select(col(idCol).as("id"), col(vecCol).as("n_vec"))
      .withColumn("cluster", nearestCentroid(col("n_vec"), centroids))
    clusteredGraphEdges(left, right, k, metric)
  }

  /** [[knnJoinIvf]] with the two-level routed quantizer
    * ([[RoutedQuantizer]]) as the blocker — the >10⁷-row build path:
    * the flat scheme's K = n/100 centroid LITERAL is replaced by the
    * coarse literal (√K) + the fine TABLE joined in, so the same
    * Σ|cluster|² blocked build keeps working when K itself outgrows
    * the sample-fit/driver-array/plan-literal ceilings.
    */
  def knnJoinRouted(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      rq: RoutedQuantizer,
      k: Int,
      metric: String): DataFrame = {
    val left = rq.assign(
      emb.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")), "q_vec")
    val right = rq.assign(
      emb.select(col(idCol).as("id"), col(vecCol).as("n_vec")), "n_vec")
    clusteredGraphEdges(left, right, k, metric)
  }

  /** [[knnJoinIvf]] / [[knnJoinRouted]] behind the [[GraphQuantizer]]
    * seam — the maintained facade's build leg: flat literal below the K
    * threshold, the routed two-level table above it, the same
    * Σ|cluster|² blocked kernel either way.
    */
  def knnJoinQ(emb: DataFrame, idCol: String, vecCol: String,
               q: GraphQuantizer, k: Int, metric: String): DataFrame =
    clusteredGraphEdges(
      q.withCluster(emb.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")), "q_vec"),
      q.withCluster(emb.select(col(idCol).as("id"), col(vecCol).as("n_vec")), "n_vec"),
      k, metric)

  /** The shared blocked-edge tail: both sides already carry their
    * `cluster` column (flat literal assignment or the routed two-level
    * join); candidates pair inside their cluster and the per-query
    * top-k is the bounded-heap partial aggregate.
    */
  private[operators] def clusteredGraphEdges(
      left: DataFrame,
      right: DataFrame,
      k: Int,
      metric: String): DataFrame = {
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Neighbor])
    val scored = left.join(right, Seq("cluster"))
      .where(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"), score(metric, col("n_vec"), col("q_vec")).as("dist"))
    val flip = metric == "ip" || metric == "cosine"
    scored
      .groupBy(col("q_id"))
      .agg(topk(col("id"), col("dist")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(
        col("q_id"),
        (col("pos") + 1).as("rank"),
        col("n.id").as("n_id"),
        roundTo(if (flip) -col("n.dist") else col("n.dist"), 4).as("value"))
  }

  /** Shared batch re-rank tail for the quantized backends
    * ([[PqIndex.searchBatchAdc]], [[BinaryIndex.searchBatch]],
    * [[SqIndex.searchBatch]]): the per-query coarse candidates
    * (q_id, cand_id — O(queries × rerank) rows, broadcastable by
    * construction) fetch their raw vectors by id in one pruned pass of
    * the cold table, the index metric scores each (query, candidate)
    * pair, and the bounded heap emits the top-k per query.
    */
  def rerankBatch(emb: DataFrame, idCol: String, vecCol: String,
                  cand: DataFrame, queries: DataFrame,
                  qIdCol: String, qVecCol: String,
                  k: Int, metric: String): DataFrame = {
    val topk = udaf(new TopKNeighbors(k), Encoders.product[Neighbor])
    val flip = metric == "ip" || metric == "cosine"
    emb.select(col(idCol).as("cand_id"), col(vecCol).as("n_vec"))
      .join(broadcast(cand), Seq("cand_id"))
      .join(broadcast(queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"))),
        Seq("q_id"))
      .select(col("q_id"), col("cand_id").as("id"),
        score(metric, col("n_vec"), col("q_vec")).as("dist"))
      .groupBy("q_id")
      .agg(topk(col("id"), col("dist")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "n")))
      .select(col("q_id"), (col("pos") + 1).as("rank"), col("n.id").as("n_id"),
        roundTo(if (flip) -col("n.dist") else col("n.dist"), 4).as("value"))
  }

  /** Incremental maintenance of a persisted k-NN graph artifact — the
    * append twin the signature and postings artifacts already have
    * ([[Dedup.appendSignatures]], [[Retrieval.appendPostings]]): the
    * ingested batch assigns to the FROZEN centroids of the original
    * build and scores against its own cluster's members only (the same
    * single-probe blocking as the build), then APPENDS its top-k edge
    * rows to the graph parquet.
    *
    * The standing side is derived INTERNALLY from the graph's companion
    * cluster-partitioned vector layout at `layoutPath` (the
    * [[IvfIndex.writePartitioned]] table the serving stack already
    * keeps): the batch's touched-cluster set (K-bounded, one tiny
    * metadata-scale collect) prunes the standing read at FILE-LISTING
    * time, so per-batch IO is Σ over touched clusters of |cluster| —
    * never a full standing-corpus scan per micro-batch — and the same
    * call keeps the layout current ([[IvfIndex.appendPartitioned]]) so
    * the next batch's standing set automatically includes this one.
    * Callers cannot hand in a stale "standing" frame: the layout IS the
    * corpus as of this batch, by construction.
    *
    * NEW-nodes-only contract, enforced like
    * [[graft.api.TextIndex.append]]: a re-ingested id would duplicate
    * its layout rows and corrupt later batches' candidate sets, so the
    * batch is probed against the layout first (limit-1 semi-join on the
    * column-pruned id column).
    *
    * Maintenance contract (stated envelope, proven in StreamingSpec):
    * appended NEW-node edges are EXACTLY the full rebuild's edges over
    * the corpus as of this batch's ingest (frozen centroids ⇒ same
    * cluster membership ⇒ same candidate set); OLD nodes' edge lists
    * are NOT revisited — a standing node whose true neighbor arrives in
    * the batch keeps its build-time list until the next full rebuild,
    * exactly like appended postings keep file-granularity pruning until
    * compaction.
    */
  /** `servePath`, when given, ALSO maintains the graph's SERVING layout
    * ([[GraphAnn.buildServing]]) in the same call: the batch's new-node
    * edges symmetrize (both directions, each carrying the destination
    * vector from the candidate frame — no corpus access) and append to
    * `servePath/edges`; the medoid `entries/` stay FROZEN, like the
    * centroids they derive from (the entry set is a routing heuristic,
    * not a correctness surface). Envelope (proven in StreamingSpec):
    * the appended serving edges are EXACTLY
    * `buildServing(loadGraph(maintained graph))`'s rows — rebuild ≡
    * append, because symmetrizing the maintained raw graph produces
    * precisely the standing build rows plus the batch's symmetrized
    * rows (no cross-duplicates: every batch row touches a new id).
    */
  def appendGraphEdges(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]],
      k: Int,
      metric: String,
      graphPath: Option[String],
      layoutPath: String,
      servePath: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val dup = spark.read.parquet(layoutPath).select(col(idCol))
      .join(batch.select(col(idCol)), Seq(idCol), "leftsemi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"appendGraphEdges is new-nodes-only: $idCol ${dup.headOption.map(_.get(0)).orNull} " +
        "is already in the standing layout (re-appending would duplicate its rows " +
        "and corrupt later batches' candidate sets)")
    val touched = batch
      .select(graft.functions.nearestCentroid(col(vecCol), centroids).as("cluster"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val standingPruned = IvfIndex.readPruned(spark, layoutPath, touched, idCol)
      .select(col(idCol), col(vecCol))
    val cand = standingPruned.unionByName(batch.select(col(idCol), col(vecCol)))
    val edges = ivfGraphEdges(batch, cand, idCol, vecCol, centroids, k, metric)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graphPath.foreach(gp => edges.write.mode("append").parquet(gp))
      servePath.foreach { sp =>
        val directed = edges.select(col("q_id").as("src_id"), col("n_id").as("dst_id"))
        // mutual pairs WITHIN the batch appear in both directions —
        // distinct, exactly like the build's symmetrization
        val sym = directed.unionByName(
          directed.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
          .distinct()
        sym.join(cand.select(col(idCol).as("dst_id"), col(vecCol).as("dst_vec")), "dst_id")
          .select(col("src_id"), col("dst_id"), col("dst_vec"))
          .write.mode("append").parquet(s"$sp/edges")
      }
    } finally edges.unpersist()
    IvfIndex.appendPartitioned(batch, vecCol, centroids, layoutPath)
  }

  /** Load a persisted k-NN graph (the [[knnJoinIvf]] /
    * [[appendGraphEdges]] artifact) with its delete twin applied: an
    * edge dies if EITHER endpoint was tombstoned
    * ([[Tombstones.filterEdges]] — a deleted vector must vanish both as
    * a query node and as anyone's neighbor). No-op plan when nothing
    * was ever deleted.
    */
  def loadGraph(spark: SparkSession, graphPath: String): DataFrame =
    Tombstones.filterEdges(spark.read.parquet(graphPath), graphPath, "q_id", "n_id")
}
