package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.storage.StorageLevel

import graft.functions._
import graft.operators.{Dedup, Knn, TextAnalysis, Upsert}
import graft.sources.Tables

/** Implementations behind SparkEntry.queries — one def per operator in
  * SURVEY.md §2. Each takes (spark, sfDir) and returns a DataFrame whose
  * schema/ordering exactly mirrors the DuckDB oracle in [[Oracles]].
  */
object Queries {

  // Persist contract for query-local `.persist(...)` intermediates that
  // are NOT explicitly unpersisted (the lazy multi-consumer plans below):
  // these queries return lazy DataFrames, so the cache must outlive the
  // call. The harness sweeps (Bench, Verify) call
  // `spark.catalog.clearCache()` between passes; in a long-lived ad-hoc
  // session, Spark's ContextCleaner unpersists each cached plan once its
  // driver-side reference is garbage-collected, so per-invocation caches
  // are reclaimed asynchronously rather than accumulating without bound.
  // Operators whose OUTPUT is eagerly materialized (the Dedup pair
  // kernels) instead localCheckpoint-and-unpersist at call time.

  private val ts19980101 = Timestamp.valueOf("1998-01-01 00:00:00")

  /** Written-once-per-corpus derived tables — the
    * [[operators.Dedup.index]] pattern for single corpus-scale score
    * chains shared by several queries (DSIR scores, the bigram-LM
    * fluency table): the chain runs once, lands in parquet under
    * target/graft-persist, and every consumer reads the artifact.
    * Parquet on purpose — clearCache-proof, restart-shaped, and doubles
    * round-trip bit-exact so hash gates are unaffected.
    *
    * Lifecycle is [[operators.Artifacts]]: the artifact is keyed on a
    * CONTENT fingerprint of the corpus dir, so a rewritten corpus
    * invalidates and rebuilds instead of serving stale rows (the old
    * version is GC'd); a restart adopts the committed on-disk artifact
    * without rebuilding; racing first callers build once under a key
    * lock. `spec` tags the build recipe — bump it when the artifact's
    * schema/derivation changes so old on-disk versions never get
    * adopted across code versions.
    */
  private def materialized(spark: SparkSession, dir: String, name: String,
                           spec: String = "")
                          (build: => DataFrame): DataFrame = {
    val fp = operators.Artifacts.fingerprint(spark, Seq(dir), spec)
    val path = operators.Artifacts.resolve(spark, name,
      operators.Artifacts.corpusKey(dir), fp) { tmp =>
      build.write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** Run independent query legs CONCURRENTLY (guide §2.6 "overlap
    * independent jobs"): the graph curve queries each run several
    * independent beam walks, and the driver-stated walk
    * ([[operators.GraphAnn.beamStates]]) submits its per-hop jobs
    * eagerly — sequential legs leave the cluster idle between tiny
    * jobs. A bounded pool submits the legs together; the FIFO scheduler
    * back-fills executors freed by one leg's tail with the next leg's
    * tasks. Results keep their input order (futures awaited in order),
    * so unions built from them are unchanged row-for-row.
    */
  private def inParallel[T](xs: Seq[() => T], par: Int = 8): Seq[T] =
    if (xs.lengthCompare(2) < 0) xs.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(par, xs.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      var failed = false
      try {
        val fs = xs.map(f => scala.concurrent.Future(f()))
        fs.map(f => scala.concurrent.Await.result(
          f, scala.concurrent.duration.Duration.Inf))
      } catch {
        case t: Throwable => failed = true; throw t
      } finally {
        // on the failure path, CANCEL the not-yet-started legs and
        // interrupt in-flight ones instead of letting them run their
        // Spark jobs to completion behind a call that already threw;
        // on success all futures are done and shutdown is a plain close
        if (failed) pool.shutdownNow() else pool.shutdown()
      }
    }

  /** Query vector = the embedding of a fixed vec_id. One driver-side row
    * fetch — in a serving flow this vector arrives with the request
    * (reference: SearchRequest.vectors, src/models/request/search.rs).
    */
  private def queryVec(spark: SparkSession, dir: String, vecId: Long): Array[Float] =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") === vecId)
      .select("embedding")
      .first()
      .getSeq[Float](0)
      .toArray

  // =====================================================================
  // A. Vector-DB core
  // =====================================================================

  /** FLAT/L2 exact k-NN (reference: faiss "IDMap,Flat" + MetricType::L2). */
  def knnFlatL2(spark: SparkSession, dir: String): DataFrame =
    Knn.searchExact(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir, 0L), k = 10, metric = "l2")

  /** FLAT/IP exact k-NN (reference: MetricType::InnerProduct). */
  def knnFlatIp(spark: SparkSession, dir: String): DataFrame =
    Knn.searchExact(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir, 0L), k = 10, metric = "ip")

  /** Cosine top-k (reference: usearch MetricKind::Cos analog). */
  def knnCosine(spark: SparkSession, dir: String): DataFrame =
    Knn.searchExact(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir, 0L), k = 10, metric = "cosine")

  /** Batch k-NN: every vec_id % 100 == 0 row is a query; top-5 L2 each. */
  def knnBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    Knn.searchBatch(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
        k = 5, metric = "l2")
      .orderBy("q_id", "rank")
  }

  /** Filtered k-NN, Operation::Equal (reference: filter_index.rs:47-52):
    * label == 3 pre-filter, then exact L2 top-10. The filter reaches the
    * parquet scan as a pushed predicate — the distributed twin of the
    * reference's roaring-bitmap pre-filter.
    */
  def filteredKnnEq(spark: SparkSession, dir: String): DataFrame =
    Knn.searchExact(
      Tables.embeddings(spark, dir).where(col("label") === 3),
      "vec_id", "embedding", queryVec(spark, dir, 1L), k = 10, metric = "l2")

  /** Filtered k-NN, Operation::NotEqual (reference: filter_index.rs:53-60). */
  def filteredKnnNe(spark: SparkSession, dir: String): DataFrame =
    Knn.searchExact(
      Tables.embeddings(spark, dir).where(col("label") =!= 3),
      "vec_id", "embedding", queryVec(spark, dir, 1L), k = 10, metric = "l2")

  /** Batch k-NN through the IVF join path (nprobe 4 of 16 — the 100 TB
    * batch-ANN shape). Rows-only driver check; equality-at-nprobe=K and
    * recall covered in AnnSpec.
    */
  def knnBatchIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    operators.Knn.searchBatchIvf(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
        centroids, k = 5, nprobe = 4, metric = "l2")
      .orderBy("q_id", "rank")
  }

  /** Filtered BATCH k-NN — the reference's metadata-filter composition
    * ([[filteredAnnIvf]], filter_index.rs ∘ search_vectors_filter)
    * applied to the batch evaluation shape ([[knnBatchIvf]]): every
    * vec_id % 100 == 0 row is a query, answered over ONLY label == 2
    * rows, in ONE plan. The label predicate lands on the base side of
    * the cluster equi-join, so filter ∩ probed clusters both reach the
    * one corpus scan (plan-guarded); centroids are fit on the FULL
    * table (the filter narrows the search, not the index), so the
    * parameter-literal oracle mirrors both predicates.
    */
  def filteredKnnBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    operators.Knn.searchBatchIvf(emb.where(col("label") === 2), "vec_id", "embedding",
        queries, "q_id", "q_vec", centroids, k = 5, nprobe = 4, metric = "l2")
      .orderBy("q_id", "rank")
  }

  /** In-query recall evaluation of the approximate IVF path against the
    * exact answer — the index-tuning artifact (faiss bench loop): both
    * legs are deterministic (seeded KMeans, fixed query), so
    * recall@k is a constant the oracle reproduces. The legs are two
    * TakeOrdered bounded heaps over one table; the intersection is a
    * k-row join — cost is two scans regardless of scale.
    */
  def annRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val qv = queryVec(spark, dir, 4L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val approx = operators.IvfIndex.search(emb, "vec_id", "embedding", centroids,
      qv, k = 10, nprobe = 4, metric = "l2").select(col("id"))
    exact.join(approx, "id")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(10).as("k"), lit(4).as("nprobe"), col("n_hits"),
        roundTo(col("n_hits") / lit(10L), 4).as("recall"))
  }

  /** The IVF tuning CURVE: recall@10 of every nprobe in {1,2,4,8,16}
    * against the exact answer, one row per setting — the faiss
    * bench-loop artifact users run before picking an operating point.
    * All legs share one fitted quantizer and one exact top-k; each
    * approximate leg is a pruned TakeOrdered, so the whole curve costs
    * ~Σ(nprobe)/K ≈ 2 extra scans.
    */
  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val qv = queryVec(spark, dir, 4L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    Seq(1, 2, 4, 8, 16).map { np =>
      val approx = operators.IvfIndex.search(emb, "vec_id", "embedding", centroids,
        qv, k = 10, nprobe = np, metric = "l2").select(col("id"))
      exact.join(approx, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).as("nprobe"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** LSH tuning curve: recall@10 of [[operators.LshIndex.search]] at
    * multi-probe Hamming radius ∈ {0,1,2,3,4} in ONE query — the
    * usearch `ef_search` tuning experience (reference:
    * src/core/index/usearch_index.rs) that [[annRecallCurve]] gives the
    * IVF nprobe knob. One shared exact leg; the bucket column is a pure
    * map-side pass, so each radius branch is a pruned scan + bounded
    * top-k. radius = nBits probes every bucket ⇒ the curve provably
    * ends at recall 1.0.
    */
  def annLshRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val planes = operators.LshIndex.planes(nBits = 4, dim = 64)
    val qv = queryVec(spark, dir, 3L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    Seq(0, 1, 2, 3, 4).map { r =>
      val approx = operators.LshIndex.search(emb, "vec_id", "embedding", planes,
        qv, k = 10, radius = r, metric = "l2").select(col("id"))
      exact.join(approx, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(r).as("radius"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }.reduce(_ unionAll _).orderBy("radius")
  }

  /** PQ tuning curve: recall@10 of [[operators.PqIndex.search]] at
    * rerank ∈ {10, 25, 50, 100, 500} — the `pqRerank` knob's measured
    * tradeoff (how many ADC candidates survive to the exact re-rank),
    * completing the tuning-curve family (IVF nprobe, LSH radius).
    * Shared exact leg; rerank ≥ n keeps every candidate ⇒ the curve
    * provably ends at 1.0.
    */
  def annPqRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val qv = queryVec(spark, dir, 5L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    Seq(10, 25, 50, 100, 500).map { r =>
      val approx = operators.PqIndex.search(emb, "vec_id", "embedding", books, qv,
        k = 10, rerank = r).select(col("id"))
      exact.join(approx, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(r).as("rerank"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }.reduce(_ unionAll _).orderBy("rerank")
  }

  /** Recall of the IVF-blocked k-NN graph ([[knnJoin]]) against the
    * exact brute-force graph — the "measure, don't guess" artifact for
    * the graph build, like [[annRecallEval]] for search and
    * [[dedupRecallEval]] for dedup. The exact leg is [[knnJoin]]'s own
    * operator run with ONE degenerate centroid (everything co-blocked ⇒
    * provably exact top-k); the comparison is edge-set intersection.
    * One constant row (n_exact, n_approx, n_hit, recall) — all integer
    * counts + one rounded division, re-derived end-to-end by the oracle.
    */
  def knnGraphRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val approx = knnGraph(spark, dir).select(col("q_id"), col("n_id"))
    val exact = operators.Knn.knnJoinExact(emb, "vec_id", "embedding",
      k = 3, metric = "l2").select(col("q_id"), col("n_id"))
    // ONE aggregation chain for all three counts (the dedupRecallEval
    // shape): the old count+count+join-count crossJoins referenced the
    // exact BRUTE-FORCE leg twice in one physical plan, and column
    // pruning specialized the copies so ReuseExchange never fired — the
    // whole truth subtree executed twice (plan audit: two identical
    // Generate/ObjectHashAggregate/join chains). Each edge set is
    // distinct on (q_id, n_id) (top-k rank rows), so the flag fold's
    // sums are the same BIGINT counts.
    exact.select(col("q_id"), col("n_id"), lit(1L).as("t"), lit(0L).as("s"))
      .unionByName(approx.select(col("q_id"), col("n_id"), lit(0L).as("t"), lit(1L).as("s")))
      .groupBy("q_id", "n_id").agg(max("t").as("t"), max("s").as("s"))
      .agg(sum("t").as("n_exact"), sum("s").as("n_approx"),
        sum(col("t") * col("s")).as("n_hit"))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        roundTo(col("n_hit") / col("n_exact"), 4).as("recall"))
  }

  /** k-NN graph over the whole embedding table: top-3 neighbors per
    * vector within its own IVF cluster (single-probe blocking). The
    * cluster count SCALES with the table — K = max(16, ⌈n/100⌉) via
    * [[operators.IvfIndex.fitScaled]] — so per-cluster pair work stays
    * bounded at any data size (the Σ|cluster|² premise).
    */
  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    knnGraph(spark, dir).orderBy("q_id", "rank")

  /** The corpus's top-3 IVF-blocked k-NN graph (q_id, rank, n_id,
    * value), written once per corpus (the [[materialized]] pattern) —
    * FIVE graph consumers (join, recall eval, hubness, reciprocity,
    * label consistency) read this artifact instead of each re-running
    * the Σ|cluster|² build; at 100 TB the materialized k-NN graph is
    * exactly the artifact a pipeline stores next to the embeddings.
    */
  /** Above this fitted-K the corpus-scale graph/serving builders switch
    * from the flat literal quantizer to the two-level routed one
    * ([[operators.RoutedQuantizer]]): below it the flat path is both
    * simpler and faster (one small codegen literal, no fine-table
    * join), and every test SF sits far under it (sf0.1 fits K = 640) so
    * the keyed rows' plans, oracles and hashes are untouched; the
    * routed branch is driven end-to-end — fit, blocked build, serving
    * layout, walk — by ScaleSpec's `routed_serve_build` certificate.
    */
  /** Conf-overridable ([[operators.RoutedQuantizer.kThreshold]] — the
    * session conf `spark.graft.routed.kThreshold`): lets a test force
    * the switch DOWN so the routed branch runs — and hash-gates — at
    * oracle corpus sizes (the `ann_graph_routed_forced` twin drives it
    * through an explicit forced builder instead, so the keyed gate
    * needs no conf); a deployment tunes it to where the flat literal
    * stops paying. The same threshold governs the maintained facade
    * lifecycle ([[graft.api.VectorIndex]] save at large ivfClusters).
    */
  private[graft] def routedKThreshold(spark: SparkSession): Long =
    operators.RoutedQuantizer.kThreshold(spark)

  private def scaledKOf(emb: DataFrame, targetClusterSize: Long): Long =
    math.max(16L, (emb.count() + targetClusterSize - 1) / targetClusterSize)

  /** The corpus's k-NN edge build at scaled K — flat-blocked under
    * [[routedKThreshold]], routed-blocked above (same Σ|cluster|²
    * contract, no K-proportional literal).
    */
  private def knnGraphEdgesScaled(emb: DataFrame, k: Int): DataFrame =
    if (scaledKOf(emb, 100L) <= routedKThreshold(emb.sparkSession))
      operators.Knn.knnJoinIvf(emb, "vec_id", "embedding",
        operators.IvfIndex.fitScaled(emb, "embedding", targetClusterSize = 100L),
        k, metric = "l2")
    else
      operators.Knn.knnJoinRouted(emb, "vec_id", "embedding",
        operators.RoutedQuantizer.fitScaled(emb, "embedding", targetClusterSize = 100L),
        k, metric = "l2")

  private def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val path = operators.Artifacts.resolve(spark, "knngraph",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir))) { tmp =>
      knnGraphEdgesScaled(Tables.embeddings(spark, dir), k = 3)
        .write.mode("overwrite").parquet(tmp)
    }
    // loadGraph applies the delete twin (no-op plan without tombstones)
    operators.Knn.loadGraph(spark, path)
  }

  /** The graph-SERVING layout per corpus ([[operators.Artifacts]]
    * lifecycle): the written-once [[knnGraph]] edges symmetrized with
    * destination vectors attached (src-sorted) plus per-cluster medoid
    * entry points — [[operators.GraphAnn.buildServing]]. Built once;
    * every beam search reads only this artifact.
    */
  /** The shared serving-layout builder behind [[graphServePath]], its
    * filtered twin, and the threshold-FORCED routed twin: flat-blocked
    * at or below `threshold`, routed-blocked above — one body, so the
    * forced keyed row hash-gates exactly the branch the auto-switch
    * takes at real K.
    */
  private def buildServingScaled(emb: DataFrame, threshold: Long, tmp: String): Unit =
    if (scaledKOf(emb, 100L) <= threshold) {
      val centroids = operators.IvfIndex.fitScaled(emb, "embedding", targetClusterSize = 100L)
      operators.GraphAnn.buildServing(
        operators.Knn.knnJoinIvf(emb, "vec_id", "embedding", centroids,
          k = 16, metric = "l2"),
        emb, "vec_id", "embedding", centroids, tmp)
    } else {
      val rq = operators.RoutedQuantizer.fitScaled(emb, "embedding", targetClusterSize = 100L)
      operators.GraphAnn.buildServingRouted(
        operators.Knn.knnJoinRouted(emb, "vec_id", "embedding", rq, k = 16, metric = "l2"),
        emb, "vec_id", "embedding", rq, tmp)
    }

  private[graft] def graphServePath(spark: SparkSession, dir: String): String =
    operators.Artifacts.resolve(spark, "knngraph_serve",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v3 k=16 route")) { tmp =>
      // degree 16 — the reference's own M (hnsw_index.rs) and the
      // measured knee of ann_graph_degree_curve (recall@10 0.4 -> 0.7
      // at K = 3 -> 16 for 4.7x edge storage; +0.1 more at K = 32 for
      // another 1.9x). The shared top-3 knnGraph artifact keeps serving
      // its five graph-statistics consumers; the SERVING layout builds
      // its own degree-16 edge set. Flat-blocked under
      // [[routedKThreshold]], routed above (no K-proportional literal).
      buildServingScaled(Tables.embeddings(spark, dir), routedKThreshold(spark), tmp)
    }

  /** Graph-traversal ANN — the serving leg over the persisted k-NN
    * graph (reference: hnsw_index.rs, the reference's PRIMARY index):
    * greedy beam search (beam 8, 3 hops) from the per-cluster medoid
    * entries, candidates scored from the dst_vec riding the edge rows —
    * the corpus table appears NOWHERE in the plan (plan-guarded); per
    * hop the work is O(frontier × degree) edge rows from one
    * footer-pruned scan of the serving artifact. Oracle re-derives the
    * graph, the medoids and the full unrolled walk from the fitted
    * centroid literals.
    */
  def annGraph(spark: SparkSession, dir: String): DataFrame = {
    val base = graphServePath(spark, dir)
    operators.GraphAnn.searchBeam(
      operators.Tombstones.filter(
        spark.read.parquet(s"$base/entries"), base, "id").select(col("id"), col("vec")),
      operators.Tombstones.filterEdges(
        spark.read.parquet(s"$base/edges"), base, "src_id", "dst_id"),
      queryVec(spark, dir, 13L), k = 10, beam = 8, hops = 3)
  }

  /** ROUTED graph-traversal ANN — [[annGraph]] with sub-linear entry
    * selection (the reference's HNSW pays O(log n) at hop 0 via its
    * layer hierarchy, hnsw_index.rs; a flat medoid table pays O(E) with
    * E = n/100): the walk starts from only the entries in the query's
    * top-2 ROUTE cells ([[operators.GraphAnn.routeEntries]] over the
    * artifact's persisted `route/` centroids — ⌈√E⌉ of them, fit over
    * the medoids themselves), a pushed route_cell IN filter on the
    * entries scan. Same query/beam/hops as [[annGraph]], so the pair
    * prices what the routed hop 0 costs in recall. Oracle re-derives
    * the medoids, their route cells, the query's routed cell set and
    * the full unrolled walk from the spliced route + quantizer
    * literals.
    */
  def annGraphRouted(spark: SparkSession, dir: String): DataFrame = {
    val base = graphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val routeCents = operators.IvfIndex.readCentroids(spark, s"$base/route")
    // delete twin mirrors annGraph (no-op plan without tombstones): a
    // routed walk at a tombstoned serve path must not serve deleted
    // ids/edges the unrouted walk already filters
    val entries = operators.Tombstones.filter(
        operators.GraphAnn.routeEntries(
          spark.read.parquet(s"$base/entries"), routeCents, qv, routeProbe = 2),
        base, "id")
      .select(col("id"), col("vec"))
    operators.GraphAnn.searchBeam(entries,
      operators.Tombstones.filterEdges(
        spark.read.parquet(s"$base/edges"), base, "src_id", "dst_id"),
      qv, k = 10, beam = 8, hops = 3)
  }

  /** BATCH graph-ANN — the graph backend's member of the batch family
    * beside [[knnBatchIvf]] / [[knnBatchPq]] (every vec_id % 100 == 0
    * row is a query, top-5 each): ONE plan walks the serving artifact
    * for all queries — hop 0 scores the broadcast K-bounded medoid
    * entries per query, each round the per-query top-beam frontier
    * joins the edge artifact and candidates score in-row from dst_vec;
    * per-query state is bounded by construction (K + hops·beam·degree),
    * so every cut is a window over bounded groups. The corpus table
    * appears only under the query projection, never per hop
    * (plan-guarded). Oracle unrolls the per-query walk from the same
    * centroid literals.
    */
  /** Entry-count threshold above which batch graph walks route hop 0
    * through the artifact's persisted ENTRY ROUTE instead of scoring
    * all E medoid entries per query. Conf-overridable
    * (`spark.graft.graph.routeEntriesThreshold`) so the scale
    * certificates drive the routed branch at test sizes; every keyed SF
    * sits far below the default, so the hash-gated plans are untouched.
    * Why a threshold at all: below it the full-entry hop 0 is both
    * exact and cheaper (E rows < routeProbe × √E × route overhead), and
    * above it the |q| × E product is the r13 scale-killer the route
    * exists to break.
    */
  /** The serving artifact's persisted entry route, taken when the entry
    * count warrants it ([[operators.GraphAnn.servingRoute]] — the
    * switch reads only the tiny route matrix, no action).
    */
  private def servingRoute(spark: SparkSession, base: String,
                           force: Boolean): Option[(Array[Array[Float]], Int)] =
    operators.GraphAnn.servingRoute(spark, base, force)

  def knnBatchGraph(spark: SparkSession, dir: String): DataFrame =
    knnBatchGraphImpl(spark, dir, forceRoute = false)

  /** `forceRoute = true` is the `knn_batch_graph_routed` keyed twin:
    * the SAME production builder with the entry-route auto-switch held
    * ON, so the routed hop 0 the big-E regime executes (per-query
    * map-side √E route scoring + a route_cell equi-join instead of the
    * |q| × E entry cross join) is hash-gated at oracle scale — the
    * oracle re-derives the medoids' route cells and each query's routed
    * cell set from the artifact's spliced route literals.
    */
  private[graft] def knnBatchGraphImpl(spark: SparkSession, dir: String,
                                       forceRoute: Boolean): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = graphServePath(spark, dir)
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val route = servingRoute(spark, base, forceRoute)
    val entries0 = operators.Tombstones.filter(
      spark.read.parquet(s"$base/entries"), base, "id")
    // the routed arm keeps the persisted route_cell so the equi-join
    // reads the build-time assignment (and the sorted layout) instead
    // of recomputing it per walk
    val entries = route match {
      case Some(_) => entries0.select(col("id"), col("vec"), col("route_cell"))
      case None    => entries0.select(col("id"), col("vec"))
    }
    operators.GraphAnn.searchBeamBatch(
      entries,
      operators.Tombstones.filterEdges(
        spark.read.parquet(s"$base/edges"), base, "src_id", "dst_id"),
      queries, "q_id", "q_vec", k = 5, beam = 8, hops = 3,
      route = route, maxChunk = operators.GraphAnn.chunkBudget(spark))
      .orderBy("q_id", "rank")
  }

  def knnBatchGraphRouted(spark: SparkSession, dir: String): DataFrame =
    knnBatchGraphImpl(spark, dir, forceRoute = true)

  /** The ROUTED-QUANTIZER serving build forced down to oracle scale —
    * the hash gate on the branch the corpus-scale builders auto-switch
    * to above [[routedKThreshold]] (where a DuckDB oracle could never
    * splice the K-proportional literal): the SAME [[buildServingScaled]]
    * body with the threshold held at 0 builds a serving layout through
    * [[operators.RoutedQuantizer.fitScaled]] →
    * [[operators.Knn.knnJoinRouted]] →
    * [[operators.GraphAnn.buildServingRouted]], and the walk serves it
    * exactly like [[annGraph]]. The artifact persists its fitted
    * quantizer (`quantizer/`), and the oracle re-derives the two-level
    * assignment, the fine-cluster medoids, the blocked graph and the
    * full unrolled walk from THOSE spliced tables — so a drift anywhere
    * in the routed build chain goes hash-red.
    */
  def annGraphRoutedForced(spark: SparkSession, dir: String): DataFrame = {
    val base = routedForcedServePath(spark, dir)
    operators.GraphAnn.searchBeam(
      spark.read.parquet(s"$base/entries").select(col("id"), col("vec")),
      spark.read.parquet(s"$base/edges"),
      queryVec(spark, dir, 13L), k = 10, beam = 8, hops = 3)
  }

  private[graft] def routedForcedServePath(spark: SparkSession, dir: String): String =
    operators.Artifacts.resolve(spark, "knngraph_serve_rforce",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v1 k=16 routed-forced")) { tmp =>
      buildServingScaled(Tables.embeddings(spark, dir), threshold = 0L, tmp)
    }

  /** The MUTATED maintained-GRAPH lifecycle, parameterized for the
    * hash-gated keyed row [[annGraphMutated]]: ids the verbs touch and
    * the standing rows whose vectors the insert/upsert batches reuse
    * (request-side data either way — reusing corpus vectors keeps the
    * oracle free of float-arithmetic literals). All ids exist at every
    * SF (embeddings ≥ 500 rows).
    */
  private[graft] val graphMutInsertId = 100001L
  private[graft] val graphMutInsertSrc = 202L
  private[graft] val graphMutUpserts = Seq((3L, 403L), (59L, 459L))
  private[graft] val graphMutDeletes = Seq(5L, 41L)

  /** The maintained-GRAPH artifact AFTER a full verb chain — built once
    * per corpus under the [[operators.Artifacts]] lifecycle with the
    * mutations executed INSIDE the resolve (deterministic fingerprint):
    * facade save at generation 0 (frozen flat quantizer, gen-stamped
    * data/serving layouts, `_ids` probe sidecar, `_rowcount` manifest),
    * then through the loaded handle's maintenance verbs —
    * gen 1 INSERT of a new node, gen 2 latest-wins UPSERT of two
    * standing ids (the reference's PRIMARY verb,
    * vector_database.rs:24-83), gen 3 DELETE of two more. Every
    * protocol step the verbs run — marker, cluster-partitioned batch
    * append, symmetrized serve-edge append against the live standing
    * side, generation-scoped tombstone publish, medoid re-seed heal,
    * starved-node re-link probe, live-entry manifest — lands in the
    * committed artifact, and the oracle re-derives ALL of it
    * ([[Oracles]] mutatedGraphBeamSql) from the persisted centroid
    * literals: merged latest-wins corpus, per-generation edge sets,
    * tombstone-surviving entries/edges, heal medoids, re-link degrees,
    * then the full unrolled walk over the LIVE view. A drift anywhere
    * in the mutation machinery — a resurrection bug, a missed heal, a
    * mis-scoped tombstone — goes hash-red at every SF.
    */
  private[graft] def mutatedGraphPath(spark: SparkSession, dir: String): String =
    operators.Artifacts.resolve(spark, "vindex_mut",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v2 graph verbs i/u/d")) { tmp =>
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
      api.VectorIndex.create(spark, api.IndexType.GRAPH, 64, api.Metric.L2)
        .insertAll(emb.select(col("vec_id").as("id"), col("embedding").as("vectors")))
        .save(tmp)
      var idx = api.VectorIndex.load(spark, tmp)
      idx = idx.insertAll(emb.where(col("vec_id") === graphMutInsertSrc)
        .select(lit(graphMutInsertId).as("id"), col("embedding").as("vectors")))
      val upsertTo = graphMutUpserts.map(_.swap).toMap // src -> target id
      idx = idx.upsertAll(emb.where(col("vec_id").isin(upsertTo.keys.toSeq: _*))
        .select(upsertTo.foldLeft(lit(null).cast("long")) { case (acc, (src, tgt)) =>
            when(col("vec_id") === src, lit(tgt)).otherwise(acc)
          }.as("id"),
          col("embedding").as("vectors")))
      idx.deleteAll(graphMutDeletes.toDF("id"))
      ()
    }

  /** Walk the MUTATED maintained artifact through the production facade
    * (load → search): the keyed hash gate on the whole mutation
    * machinery — see [[mutatedGraphPath]].
    */
  def annGraphMutated(spark: SparkSession, dir: String): DataFrame = {
    val path = mutatedGraphPath(spark, dir)
    api.VectorIndex.load(spark, path).search(queryVec(spark, dir, 13L), k = 10)
  }

  /** The graph walk's PER-PHASE cost profile — the serving-side twin of
    * [[annCostModel]] ([[lookupCostModel]]'s discipline applied to the
    * beam walk): for the fixed walk (query 13, beam 8, hops 3) over the
    * standing serving artifact, the rows each phase touches — hop 0's
    * scored entry rows (full-entry vs what the ENTRY ROUTE at
    * routeProbe 2 would score instead) and, per expansion round, the
    * edge rows the frontier join reads and the new candidates scored.
    * This is the measured readout the √E-vs-log E routing decision
    * waits on: route-over-route (another hierarchy level) is only worth
    * building if h0_entries_scored dominates the per-hop edge rows —
    * now a number in an artifact, not a guess. Everything derives from
    * the same lazy walk frames the serving plan runs; the oracle
    * re-derives every phase count from the unrolled walk CTEs.
    */
  def annGraphCostModel(spark: SparkSession, dir: String): DataFrame = {
    val base = graphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val entries = spark.read.parquet(s"$base/entries")
    val edges = spark.read.parquet(s"$base/edges")
    val routeCents = operators.IvfIndex.readCentroids(spark, s"$base/route")
    val beam = 8
    val states = operators.GraphAnn.beamStates(
      entries.select(col("id"), col("vec")), edges, qv, beam = beam, hops = 3)
    def phaseRow(phase: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(phase).as("phase"), col("n_rows"))
    // newly-scored frame of round h (states are cumulative and disjoint
    // per round by the visited anti-join)
    def freshAt(h: Int): DataFrame =
      if (h == 0) states(0)
      else states(h).join(states(h - 1).select("id"), Seq("id"), "left_anti")
    val rows =
      phaseRow("h0_entries_scored", states(0)) +:
      phaseRow("h0_routed_entries",
        operators.GraphAnn.routeEntries(entries, routeCents, qv,
          operators.GraphAnn.RouteProbe)) +:
      (1 to 3).flatMap { h =>
        // r16: the frontier is a bounded local relation (the
        // driver-stated walk) — its ids reach the edge scan as a
        // pushed IN-list, so each per-hop edge-row count reads only
        // the frontier's row groups instead of the whole artifact
        // (count unchanged: frontier ids are unique, so the old
        // broadcast-join row count equals the filtered scan's)
        val frontierIds = freshAt(h - 1)
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
          .sortBy { case (id, d) => (d, id) }.take(beam).map(_._1)
        Seq(
          phaseRow(s"h${h}_edge_rows",
            edges.where(col("src_id").isin(frontierIds.toSeq: _*))),
          phaseRow(s"h${h}_scored", freshAt(h)))
      }
    rows.reduce(_ unionAll _).orderBy("phase")
  }

  /** Route-health watchdog — the frozen entry route's recall readout
    * (the CHURN experiment's metric as a standing keyed artifact): for
    * every sampled query (vec_id % 100 == 0), the overlap between the
    * exact top-3 entries (full hop 0) and the ROUTED top-3 (entries in
    * the query's routeProbe nearest route cells), at routeProbe 1/2/4.
    * A corpus that drifts from the build distribution degrades
    * avg_recall here FIRST — the measured trigger for a route re-fit
    * (save()), replacing "re-fit when it feels slow". Exact-integer hit
    * sums, one division at the end; oracle re-derives medoids, route
    * cells and both top-3 sets from the spliced literals.
    */
  def annGraphRouteHealth(spark: SparkSession, dir: String): DataFrame = {
    val base = graphServePath(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val entries = spark.read.parquet(s"$base/entries")
      .select(col("id"), col("vec"), col("route_cell"))
    val routeCents = operators.IvfIndex.readCentroids(spark, s"$base/route")
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val perQ = Window.partitionBy("q_id").orderBy(col("dist"), col("id"))
    // primed: the exact leg and the three probe legs scan this frame
    // from independent subtrees of one plan — a lazy persist lets them
    // race the empty cache and re-score the full q×entries mass.
    val scored = operators.Caching.primed(queries.crossJoin(broadcast(entries))
      .select(col("q_id"), col("q_vec"), col("id"), col("route_cell"),
        Knn.score("l2", col("vec"), col("q_vec")).as("dist")),
      StorageLevel.MEMORY_AND_DISK)
    val exact = scored
      .withColumn("rn", row_number().over(perQ)).where(col("rn") <= 3)
      .select(col("q_id"), col("id"))
    Seq(1, 2, 4).map { rp =>
      val routed = scored
        .where(array_contains(
          nearestCentroids(col("q_vec"), routeCents, rp), col("route_cell")))
        .withColumn("rn", row_number().over(perQ)).where(col("rn") <= 3)
        .select(col("q_id"), col("id"))
      val hits = exact.join(routed, Seq("q_id", "id"), "leftsemi")
        .groupBy("q_id").agg(count(lit(1)).as("h"))
      queries.select("q_id")
        .join(hits, Seq("q_id"), "left_outer")
        .select(coalesce(col("h"), lit(0L)).as("h"))
        .agg(count(lit(1)).as("n_queries"), sum("h").as("sum_hits"),
          min("h").as("min_hits"))
        .select(lit(rp).as("route_probe"), col("n_queries"),
          col("sum_hits"),
          roundTo(col("sum_hits").cast("double")
            / (col("n_queries").cast("double") * 3.0), 4).as("avg_recall"),
          roundTo(col("min_hits").cast("double") / 3.0, 4).as("min_recall"))
    }.reduce(_ unionAll _).orderBy("route_probe")
  }

  /** The graph walk's tuning curve: recall@10 after h ∈ {0..3} expansion
    * rounds (h = 0 is the medoid entries alone) against the exact
    * answer — the hops knob's measured tradeoff beside the IVF nprobe /
    * LSH radius / PQ rerank curves. Recall is provably monotone in h
    * (the visited set only grows, and only a true top-10 vector can
    * displace a true top-10 vector from the cut — AnnSpec asserts it).
    */
  def annGraphRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = graphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val exact = Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val states = operators.GraphAnn.beamStates(
      spark.read.parquet(s"$base/entries").select(col("id"), col("vec")),
      spark.read.parquet(s"$base/edges"), qv, beam = 8, hops = 3)
    states.zipWithIndex.map { case (v, h) =>
      val top = v.orderBy(col("dist"), col("id")).limit(10).select(col("id"))
      exact.join(top, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(h).as("hops"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }.reduce(_ unionAll _).orderBy("hops")
  }

  /** Metadata-FILTERED graph-traversal ANN (reference: hnsw_index.rs
    * search_vectors_filter — the reference filters its PRIMARY index;
    * until now the repo's filtered search rode only the FLAT/IVF legs):
    * the facade's searchFiltered semantics made a keyed row — walk the
    * serving layout built over the FILTERED corpus (label = 2), its own
    * written-once artifact (quantizer fitted on the filtered base, so
    * cluster K scales with the filtered size; medoid entries and edges
    * contain only matching vectors ⇒ every hop serves the filter for
    * free, no post-filter recall loss). The probe (raw id 13) is
    * request-side data and needn't satisfy the filter — same contract
    * as filtered k-NN. Oracle unrolls the same walk over the filtered
    * base from the filtered-fit centroid literals.
    */
  /** The filtered corpus's serving layout — one written-once artifact
    * shared by the single and batch filtered walks.
    */
  private[graft] def filteredGraphServePath(spark: SparkSession, dir: String): String =
    operators.Artifacts.resolve(spark, "knngraph_serve_flt",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v3 label=2 k=16 route")) { tmp =>
      buildServingScaled(Tables.embeddings(spark, dir).where(col("label") === 2),
        routedKThreshold(spark), tmp)
    }

  def filteredAnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val base = filteredGraphServePath(spark, dir)
    operators.GraphAnn.searchBeam(
      spark.read.parquet(s"$base/entries").select(col("id"), col("vec")),
      spark.read.parquet(s"$base/edges"),
      queryVec(spark, dir, 13L), k = 10, beam = 8, hops = 3)
  }

  /** The fourth cell of the GRAPH leg's composition square — BATCH ×
    * FILTERED (beside [[annGraph]] single-unfiltered, [[knnBatchGraph]]
    * batch-unfiltered, [[filteredAnnGraph]] single-filtered; r10 closed
    * the same square on the vector and text legs): every vec_id % 100
    * == 0 row of the RAW table walks the FILTERED corpus's serving
    * layout in ONE plan — queries are requests, candidates satisfy the
    * filter by construction of the artifact. Oracle unrolls the
    * per-query walk over the filtered base from the filtered-fit
    * centroid literals.
    */
  def filteredKnnBatchGraph(spark: SparkSession, dir: String): DataFrame =
    filteredKnnBatchGraphImpl(spark, dir, forceRoute = false)

  /** `forceRoute = true` is the `filtered_knn_batch_graph_routed` keyed
    * twin — the hash gate on the FILTER × ROUTE composition: the same
    * production builder with the entry-route auto-switch held ON walks
    * the filtered corpus's artifact through ITS OWN route (fit over the
    * filtered medoids at build), so the composed plan the big-E
    * filtered regime executes is hash-gated at oracle scale beside the
    * unfiltered twin [[knnBatchGraphRouted]].
    */
  def filteredKnnBatchGraphRouted(spark: SparkSession, dir: String): DataFrame =
    filteredKnnBatchGraphImpl(spark, dir, forceRoute = true)

  private def filteredKnnBatchGraphImpl(spark: SparkSession, dir: String,
                                        forceRoute: Boolean): DataFrame = {
    val base = filteredGraphServePath(spark, dir)
    val queries = Tables.embeddings(spark, dir).where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // entry-route auto-switch + delete twin, mirroring knnBatchGraph
    // (both no-op at the keyed SFs: E sits under the threshold and the
    // keyed artifact carries no tombstones)
    val route = servingRoute(spark, base, forceRoute)
    val entries0 = operators.Tombstones.filter(
      spark.read.parquet(s"$base/entries"), base, "id")
    val entries = route match {
      case Some(_) => entries0.select(col("id"), col("vec"), col("route_cell"))
      case None    => entries0.select(col("id"), col("vec"))
    }
    operators.GraphAnn.searchBeamBatch(
      entries,
      operators.Tombstones.filterEdges(
        spark.read.parquet(s"$base/edges"), base, "src_id", "dst_id"),
      queries, "q_id", "q_vec", k = 5, beam = 8, hops = 3,
      route = route, maxChunk = operators.GraphAnn.chunkBudget(spark))
      .orderBy("q_id", "rank")
  }

  /** The walk's OTHER knob: recall@10 at beam ∈ {2,4,8,16,32} with hops
    * fixed at 3 — the analog of the reference's ef_search quality knob
    * (hnsw_index.rs: ef_search = 200; the candidate-list width, exactly
    * what beam bounds here). Together with [[annGraphRecallCurve]] this
    * separates the two failure modes of a starved walk: a plateau that
    * widening the beam lifts is frontier starvation (beam too narrow to
    * escape a local neighborhood); one it does NOT lift is graph-K
    * starvation (the true neighbors simply aren't reachable in h hops
    * of a degree-3 graph). Unlike hops, recall is NOT provably monotone
    * in beam (a wider frontier explores different — not superset —
    * neighborhoods after round 1), so the curve is measured, not
    * assumed. Oracle unrolls each beam's walk from the same centroid
    * literals.
    */
  def annGraphBeamCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = graphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val exact = Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    inParallel(Seq(2, 4, 8, 16, 32).map { b => () =>
      val last = operators.GraphAnn.beamStates(
        spark.read.parquet(s"$base/entries").select(col("id"), col("vec")),
        spark.read.parquet(s"$base/edges"), qv, beam = b, hops = 3).last
      val top = last.orderBy(col("dist"), col("id")).limit(10).select(col("id"))
      exact.join(top, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(b).as("beam"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }).reduce(_ unionAll _).orderBy("beam")
  }

  /** The serving layout for the DEGREE knob's curve — ONE written-once
    * artifact built at the maximum degree (32) with each symmetrized
    * edge carrying its MIN directed build rank, so every smaller degree
    * is a rank-prefix FILTER of the same artifact: the top-K cut of a
    * top-32 k-NN build equals the degree-K build (prefix property of a
    * fixed ranking), and sym(prefix_K) = {edges with min directed rank
    * <= K}. Four walks, one build, one artifact — the 100 TB shape (a
    * degree sweep must not cost four Σ|cluster|² graph builds).
    */
  private def degreeGraphServePath(spark: SparkSession, dir: String): String =
    operators.Artifacts.resolve(spark, "knngraph_serve_deg",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v1 kmax=32")) { tmp =>
      val emb = Tables.embeddings(spark, dir)
      val centroids = operators.IvfIndex.fitScaled(emb, "embedding", targetClusterSize = 100L)
      val graph = operators.Knn.knnJoinIvf(emb, "vec_id", "embedding", centroids,
        k = 32, metric = "l2")
      val directed = graph.select(col("q_id").as("src_id"), col("n_id").as("dst_id"),
        col("rank"))
      val sym = directed
        .unionByName(directed.select(col("dst_id").as("src_id"),
          col("src_id").as("dst_id"), col("rank")))
        .groupBy("src_id", "dst_id").agg(min("rank").as("min_rank"))
      sym
        .join(emb.select(col("vec_id").as("dst_id"), col("embedding").as("dst_vec")),
          "dst_id")
        .select(col("src_id"), col("dst_id"), col("min_rank"), col("dst_vec"))
        .repartitionByRange(col("src_id"))
        .sortWithinPartitions("src_id", "dst_id")
        .write.mode("overwrite").parquet(s"$tmp/edges")
      val (entries, _) = operators.GraphAnn.servingFrames(graph, emb,
        "vec_id", "embedding", centroids)
      entries.select(col("id"), col("vec"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/entries")
    }

  /** The graph's THIRD knob — the degree (the reference's M:
    * hnsw_index.rs builds at M = 16): recall@10 at graphK ∈
    * {3, 8, 16, 32} with beam 8 / hops 3 fixed, and the symmetrized
    * edge-artifact row count riding each row — the recall-vs-storage
    * tradeoff an operator prices when sizing the serving layout. The
    * beam curve proved the degree-3 plateau is GRAPH starvation (beam
    * 32 lifts recall only to 0.5); this curve prices the fix. Each
    * degree's walk runs over the rank-prefix filter of the shared
    * max-degree artifact ([[degreeGraphServePath]] — the filter reaches
    * the parquet scan). Oracle re-derives each degree's cut, edge set
    * and unrolled walk from the same centroid literals.
    */
  def annGraphDegreeCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = degreeGraphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val exact = Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val entries = spark.read.parquet(s"$base/entries").select(col("id"), col("vec"))
    inParallel(Seq(3, 8, 16, 32).map { kk => () =>
      val edges = spark.read.parquet(s"$base/edges").where(col("min_rank") <= kk)
      val nEdges = edges.agg(count(lit(1)).as("n_edges"))
      val last = operators.GraphAnn.beamStates(entries, edges, qv,
        beam = 8, hops = 3).last
      val top = last.orderBy(col("dist"), col("id")).limit(10).select(col("id"))
      exact.join(top, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(kk).as("degree"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
        .crossJoin(nEdges) // 1-row × 1-row broadcast
    }).reduce(_ unionAll _).orderBy("degree")
  }

  /** The degree × beam INTERACTION grid — the knob family's only
    * interaction term ([[annGraphDegreeCurve]] sweeps degree at fixed
    * beam, [[annGraphBeamCurve]] beam at fixed degree; this crosses
    * them): recall@10 at degree ∈ {3,16,32} × beam ∈ {2,8,32}, hops 3.
    * What it separates: whether a starved walk should buy EDGES
    * (storage, at every node forever) or BEAM (latency, per query) —
    * a cell where widening the beam at low degree matches raising the
    * degree at narrow beam prices the cheaper fix. All nine walks run
    * over rank-prefix cuts of the ONE max-degree artifact
    * ([[degreeGraphServePath]] — the `min_rank <= K` filter reaches
    * the parquet scan); a grid sweep must not cost nine graph builds.
    * Oracle: the same MATERIALIZED base as the degree curve with one
    * suffixed unrolled walk per cell.
    */
  def annGraphDegreeBeamGrid(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = degreeGraphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val exact = Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val entries = spark.read.parquet(s"$base/entries").select(col("id"), col("vec"))
    inParallel(for { kk <- Seq(3, 16, 32); b <- Seq(2, 8, 32) } yield { () =>
      val edges = spark.read.parquet(s"$base/edges").where(col("min_rank") <= kk)
      val last = operators.GraphAnn.beamStates(entries, edges, qv,
        beam = b, hops = 3).last
      val top = last.orderBy(col("dist"), col("id")).limit(10).select(col("id"))
      exact.join(top, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(kk).as("degree"), lit(b).as("beam"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }).reduce(_ unionAll _).orderBy("degree", "beam")
  }

  /** WALK-TIME filtered graph search — the reference's ACTUAL filter
    * mechanism (hnsw_index.rs search_vectors_filter: the bitmap gates
    * candidates as they are scored, the walk itself traverses the full
    * graph), beside [[filteredAnnGraph]]'s pre-built filtered layout:
    * an AD-HOC predicate at 100 TB cannot pay a per-predicate quantizer
    * fit + graph build, so the walk runs over the ONE standing serving
    * artifact and only the top-k CUT is gated by the predicate — with
    * the beam widened to compensate (a fraction sel of visited nodes
    * pass, so the frontier must over-provision by ~1/sel to keep k
    * passing candidates in reach). The row set IS the measured
    * recall-vs-selectivity readout: three predicates of decreasing
    * selectivity, each priced at the plain beam AND at its compensated
    * beam against the exact filtered answer — what an operator reads
    * before choosing between this mode and a pre-built layout for a
    * hot predicate. Oracle unrolls one suffixed walk per (predicate,
    * beam) cell over the same full-graph base, gating only the final
    * cut.
    */
  /** Walk-time filtered search's beam ceiling (mirrors
    * [[api.VectorIndex]]'s GraphFilterBeamMax).
    */
  private[graft] val FilteredWalkBeamMax = 64

  /** The walk-time filtered readout's predicate set, each with its
    * hand-picked COMPENSATED beam (the round-13 literals) and the
    * ADAPTIVE beam the facade mechanism would choose —
    * clamp(⌈8/sel⌉, 8, 64) from a measured selectivity estimate. The
    * driver-side counts here ARE the adaptive mechanism (a walk-time
    * cardinality estimate — one narrow predicate scan each, the same
    * probe the facade's searchFiltered pays); the OUTPUT selectivity
    * column rides the plan as a 1-row aggregate. Shared with
    * [[Oracles.dynamic]] so both engines walk the identical beam set.
    * Tuples: (name, Spark predicate, DuckDB predicate, comp, adapt).
    */
  private[graft] def filteredWalkPreds(spark: SparkSession, dir: String)
      : Seq[(String, Column, String, Int, Int)] = {
    val emb = Tables.embeddings(spark, dir)
    val preds = Seq(("label=2", col("label") === 2, "e.label = 2", 32),
        ("label<8", col("label") < 8, "e.label < 8", 16),
        ("label<>2", col("label") =!= 2, "e.label <> 2", 8))
    // ONE narrow scan for all four cardinalities (the old shape paid
    // four separate count() jobs — same values, conditional counts)
    val cnts = emb.agg(
      count(lit(1)).as("n"),
      preds.zipWithIndex.map { case ((_, p, _, _), i) =>
        count(when(p, lit(1))).as(s"c$i")
      }: _*).first()
    val n = cnts.getLong(0)
    preds.zipWithIndex.map { case ((name, pred, sqlPred, comp), i) =>
      val sel = cnts.getLong(i + 1).toDouble / math.max(n, 1L)
      val adapt = math.min(FilteredWalkBeamMax,
        math.max(8, math.ceil(8.0 / math.max(sel, 1e-9)).toInt))
      (name, pred, sqlPred, comp, adapt)
    }
  }

  def filteredAnnGraphWalk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val base = graphServePath(spark, dir)
    val qv = queryVec(spark, dir, 13L)
    val entries = spark.read.parquet(s"$base/entries").select(col("id"), col("vec"))
    val edges = spark.read.parquet(s"$base/edges")
    val preds = filteredWalkPreds(spark, dir)
    // the displayed selectivity denominator rides the PLAN (1-row
    // aggregate crossJoin), like every other in-plan total here; only
    // the adaptive BEAM choice consumed a driver-side estimate (that
    // estimate IS the mechanism being priced — see filteredWalkPreds)
    val total = emb.agg(count(lit(1)).as("n_total"))
    // ONE walk per distinct beam width, shared across predicates AND
    // across the comp/adapt legs — the walk is filter-independent (the
    // gate applies only at the cut)
    val beams = (preds.map(_._4) ++ preds.map(_._5) :+ 8).distinct.sorted
    val lasts = beams.zip(inParallel(beams.map { b => () =>
      operators.GraphAnn.beamStates(entries, edges, qv,
        beam = b, hops = 3).last
    })).toMap
    preds.map { case (name, pred, _, compBeam, adaptBeam) =>
      val pass = emb.where(pred).select(col("vec_id").as("id"))
      val exact = Knn.searchExact(emb.where(pred), "vec_id", "embedding", qv, 10, "l2")
        .select(col("id"))
      val sel = pass.agg(count(lit(1)).as("n_pass")).crossJoin(total)
        .select(roundTo(col("n_pass") / col("n_total"), 4).as("selectivity"))
      def recallAt(b: Int) = {
        // the gate: only passing candidates enter the cut — the walk
        // itself saw the full graph (the reference's filter semantics)
        val top = lasts(b).join(pass, Seq("id"), "leftsemi")
          .orderBy(col("dist"), col("id")).limit(10).select(col("id"))
        exact.join(top, "id").agg(count(lit(1)).as("n"))
      }
      sel.crossJoin(recallAt(8).select(col("n").as("hits_plain")))
        .crossJoin(recallAt(compBeam).select(col("n").as("hits_comp")))
        .crossJoin(recallAt(adaptBeam).select(col("n").as("hits_adapt")))
        .select(lit(name).as("predicate"), col("selectivity"),
          lit(8).as("beam_plain"), col("hits_plain"),
          roundTo(col("hits_plain") / lit(10L), 4).as("recall_plain"),
          lit(compBeam).as("beam_comp"), col("hits_comp"),
          roundTo(col("hits_comp") / lit(10L), 4).as("recall_comp"),
          lit(adaptBeam).as("beam_adapt"), col("hits_adapt"),
          roundTo(col("hits_adapt") / lit(10L), 4).as("recall_adapt"))
    }.reduce(_ unionAll _).orderBy("predicate")
  }

  /** IVF with nprobe = K: every cluster probed ⇒ provably identical to
    * exact brute force (the oracle hash-matches knnSql), while exercising
    * the full build-assign-prune-rerank pipeline.
    */
  def annIvfExact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    operators.IvfIndex.search(emb, "vec_id", "embedding", centroids,
      queryVec(spark, dir, 2L), k = 10, nprobe = 16, metric = "l2")
  }

  /** IVF approximate search: nprobe 4 of 16 ⇒ ~25% of the data scanned.
    * Rows-only driver check; recall property covered in AnnSpec.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    operators.IvfIndex.search(emb, "vec_id", "embedding", centroids,
      queryVec(spark, dir, 2L), k = 10, nprobe = 4, metric = "l2")
  }

  /** TWO-LEVEL routed IVF search ([[operators.RoutedQuantizer]]) — the
    * quantizer sizing that survives 100 TB: K = n/100 centroids as a
    * driver-literal array caps out three ways at once (the ≤1e5-row
    * k-means sample cannot produce K distinct centroids past n = 10⁷,
    * the literal is hundreds of MB of plan, per-row assignment is
    * O(K·dim)), so the scale path routes by ⌈√K⌉ coarse centroids (a
    * literal that stays tiny at any n) and keeps the fine centroids as
    * a TABLE the assignment broadcast-joins (shuffle-joins at
    * table-sized K). This keyed row fixes K = 64 (coarse 8 × fine 8)
    * so the oracle can splice BOTH levels as literals and re-derive
    * the full route: coarse argmin per vector, fine argmin within the
    * cell, the query's 4-coarse/8-fine probe set, and the exact
    * re-rank of the survivors.
    */
  def annIvfRouted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val rq = operators.RoutedQuantizer.fitCached(emb, "embedding", k = 64)
    operators.RoutedQuantizer.search(emb, "vec_id", "embedding", rq,
      queryVec(spark, dir, 7L), k = 10, coarseProbe = 4, nprobe = 8)
  }

  /** BATCH two-level routed search — the routed family's batch cell
    * beside [[knnBatchIvf]] ([[operators.RoutedQuantizer.searchBatch]]):
    * the base assigns ONCE through the fine-table join, every query
    * routes map-side (coarse cells from the √K literal, fine probes
    * from a per-query bounded window over the routed cells' fine rows),
    * and the probe pairs equi-join the clustered base — co-partitioned,
    * never broadcast, the 100 TB batch shape with no K-proportional
    * literal anywhere. K = 64 fixed so the oracle splices both levels
    * and re-derives per-query routing + the bounded top-5 cut.
    */
  def knnBatchIvfRouted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val rq = operators.RoutedQuantizer.fitCached(emb, "embedding", k = 64)
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    operators.RoutedQuantizer.searchBatch(emb, "vec_id", "embedding",
      queries, "q_id", "q_vec", rq, k = 5, coarseProbe = 3, nprobe = 6)
      .orderBy("q_id", "rank")
  }

  /** The restart/serving path: materialize the IVF layout (cluster id as
    * the parquet partition column, [[operators.IvfIndex.writePartitioned]]),
    * then search the persisted table — the nprobe filter prunes at
    * file-listing time, so unprobed clusters cost zero IO. Same
    * centroids/query/knobs as [[annIvf]], so the parameter-literal oracle
    * is identical; PersistSpec asserts the pruning itself.
    */
  /** One persisted layout per corpus ([[operators.Artifacts]]
    * lifecycle — fingerprint-keyed, manifest-committed, superseded
    * versions GC'd): the table is written once and every later
    * invocation times only the pruned read — the serving-path cost,
    * not a table rewrite.
    */
  private def ivfPersistedPath(dir: String, emb: DataFrame,
                               centroids: Array[Array[Float]]): String =
    operators.Artifacts.resolve(emb.sparkSession, "ivf",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(emb.sparkSession, Seq(dir))) { tmp =>
      operators.IvfIndex.writePartitioned(emb, "embedding", centroids, tmp)
    }

  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val path = ivfPersistedPath(dir, emb, centroids)
    operators.IvfIndex.searchPersisted(spark, path, "vec_id", "embedding",
      centroids, queryVec(spark, dir, 2L), k = 10, nprobe = 4, metric = "l2")
  }

  /** Metadata-filtered search against the PERSISTED cluster-partitioned
    * layout — [[filteredAnnIvf]] composed with [[annIvfPersisted]]'s
    * restart path: ONE loaded plan where the nprobe cluster predicate
    * prunes at FILE-LISTING time (partition column) and the label
    * predicate pushes into the parquet row-group scan — both prunes
    * compose, the serving shape the reference's search_vectors_filter
    * takes after a restart (hnsw_index.rs + the scalar_storage.rs
    * persist story). Same parameters as [[filteredAnnIvf]], so the
    * oracle is identical; PersistSpec asserts both prunes on the plan.
    */
  def filteredAnnIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val path = ivfPersistedPath(dir, emb, centroids)
    val qv = queryVec(spark, dir, 12L)
    val probed = operators.IvfIndex.probes(qv, centroids, nprobe = 4)
    Knn.searchExact(
      operators.IvfIndex.readPruned(spark, path, probed, "vec_id").where(col("label") === 2),
      "vec_id", "embedding", qv, k = 10, metric = "l2")
  }

  /** Metadata-filtered approximate search — the reference's
    * `search_vectors_filter` (hnsw_index.rs) composed with the IVF
    * layout: the label predicate AND the nprobe cluster filter both
    * reach the scan, so at scale the read is (matching partitions) ∩
    * (probed clusters) — pruning composes, it doesn't pick one.
    * Centroids are fit on the FULL table (the filter narrows the
    * search, not the index); the parameter-literal oracle mirrors both
    * predicates.
    */
  def filteredAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    operators.IvfIndex.search(emb.where(col("label") === 2),
      "vec_id", "embedding", centroids,
      queryVec(spark, dir, 12L), k = 10, nprobe = 4, metric = "l2")
  }

  /** LSH-bucketed ANN: 4 seeded hyperplanes (16 buckets), multi-probe
    * Hamming radius 1 (5 of 16 buckets), exact re-rank. Rows-only driver
    * check; behavior properties in AnnSpec.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val planes = operators.LshIndex.planes(nBits = 4, dim = 64)
    operators.LshIndex.search(emb, "vec_id", "embedding", planes,
      queryVec(spark, dir, 3L), k = 10, radius = 1, metric = "l2")
  }

  /** Range search: every vector within L2 radius of the query, distance
    * ascending (the faiss `range_search` contract the reference's FLAT
    * backend inherits, as a Spark plan: pruned scan + filter; result
    * cardinality is data-dependent, not k).
    */
  def knnRange(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val s = vecL2(col("embedding"), typedLit(queryVec(spark, dir, 4L)))
    emb.select(col("vec_id").as("id"), s.as("score"))
      .where(col("score") <= 1.25)
      .orderBy("score", "id")
      .select(col("id"), roundTo(col("score"), 4).as("value"))
  }

  /** PQ-compressed ANN: 8 sub-quantizers × 16 centroids (8-byte codes,
    * 32× smaller than the raw vectors), ADC candidate scan, exact re-rank
    * of the top-100 — see [[operators.PqIndex]]. Parameter-literal oracle
    * (codebooks spliced into the SQL; DuckDB re-derives codes, the
    * lookup table, and both ranking stages).
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    operators.PqIndex.search(emb, "vec_id", "embedding", books,
      queryVec(spark, dir, 5L), k = 10, rerank = 100)
  }

  /** IVF index health: per-cluster population with share and balance
    * factor (n·K / total — 1.0 is perfectly even; a hot cluster shows
    * >1 and is the partition a probe storm would hammer). One
    * assignment map pass into a K-bounded aggregate; the oracle
    * re-derives assignment from the fitted centroid literals. The
    * companion knob report to ann_recall_curve: recall says WHETHER to
    * probe more, balance says what probing will COST.
    */
  def annIvfImbalance(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val kk = centroids.length
    emb.select(nearestCentroid(col("embedding"), centroids).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      // ≤ K rows — the unpartitioned window is index-arity-bounded
      .withColumn("t", sum("n").over(Window.partitionBy()))
      .select(col("cluster"), col("n"),
        roundTo(col("n").cast("double") / col("t").cast("double"), 4).as("share"),
        roundTo(col("n").cast("double") * lit(kk.toDouble) / col("t").cast("double"), 4)
          .as("balance"))
      .orderBy("cluster")
  }

  /** PQ codebook quality report: per-subspace mean squared
    * reconstruction error over the corpus — the "measure, don't guess"
    * artifact for the quantizer itself (which subspaces carry the
    * distortion budget), next to ann_pq_recall_curve's end-to-end view.
    * Per-row errors are integer-fixed (floor(d²·10⁹ + 0.5), the ADC
    * discipline) so the per-subspace sums are exact longs in any order;
    * the oracle re-derives assignment AND error from the same codebook
    * literals. One map pass over the corpus into an (m)-bounded agg.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val dsub = books.head.head.length
    val errs = books.zipWithIndex.map { case (book, j) =>
      val sub = slice(col("embedding"), j * dsub + 1, dsub)
      val cent = element_at(typedLit(book), nearestCentroid(sub, book) + 1)
      floor(vecL2Sq(sub, cent) * 1000000000.0 + lit(0.5)).cast("long").as(s"e$j")
    }
    emb.select(errs.toSeq: _*)
      .select(posexplode(array((0 until books.length).map(j => col(s"e$j")): _*))
        .as(Seq("j", "e9")))
      .groupBy("j")
      .agg(count(lit(1)).as("n"), sum("e9").as("s9"))
      .select(col("j"), col("n"),
        roundTo(col("s9").cast("double") / (col("n") * lit(1000000000.0)), 6).as("mse"))
      .orderBy("j")
  }

  /** PQ serving from the persisted codes table ("codes hot, vectors
    * cold"): the 8-byte-per-vector codes parquet is written once per
    * (sf dir, JVM); the timed path ADC-scans only that narrow table and
    * joins raw vectors by id for the re-rank survivors. Same codebooks
    * ⇒ the parameter-literal oracle is the same shape as [[annPq]]'s.
    */
  /** The persisted 8-byte codes table per corpus ([[operators.Artifacts]]
    * lifecycle), shared by the single-query persisted serve and the
    * batch ADC kernel.
    */
  private def pqCodesPath(spark: SparkSession, dir: String, emb: DataFrame,
                          books: Array[Array[Array[Float]]]): String =
    operators.Artifacts.resolve(spark, "pqcodes",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir))) { tmp =>
      operators.PqIndex.writeCodes(emb, "vec_id", "embedding", books, tmp)
    }

  def annPqPersisted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val path = pqCodesPath(spark, dir, emb, books)
    operators.PqIndex.searchPersisted(spark, path, emb, "vec_id", "embedding", books,
      queryVec(spark, dir, 8L), k = 10, rerank = 100)
  }

  /** Fixed probe ids for the point-lookup cost model — present at every
    * SF (embeddings ≥ 500 rows everywhere).
    */
  private[graft] val lookupProbeIds =
    Seq(3L, 59L, 111L, 167L, 222L, 278L, 333L, 389L, 444L, 499L)

  /** Per-FILE (min id, max id, rows) stats of a persisted layout — what
    * a footer-pruned point lookup PAYS on that layout: a reader opens
    * every file whose [min, max] id range covers the probe. Measured
    * from the REAL artifact files via input_file_name, never modeled.
    */
  private def layoutFileStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id").as("id"), input_file_name().as("f"))
      .groupBy("f")
      .agg(min("id").as("mn"), max("id").as("mx"), count(lit(1)).as("cnt"))

  /** The by-id lookup layouts beside the cluster-partitioned ANN layout,
    * SYNTHESIZED rather than written (the serving layout is the one real
    * artifact; a cost table should not cost 3× write amplification to
    * produce): each hypothetical layout's per-file (min id, max id,
    * rows) is derived in-plan from the id distribution alone —
    *
    *  - `idsorted`: 8 equi-width buckets over the observed id domain
    *    (what a range writer produces on uniform keys — and exactly
    *    reproducible without a global sort, unlike sampled range
    *    boundaries);
    *  - `zordered`: 8 equi-width buckets over the interleaved
    *    (id, label) Z-value, min/max ID per Z-bucket (the z-locality
    *    loss is the whole point the report shows);
    *  - `hashspread`: pmod(hash(id), 8) — exactly the bucket function
    *    of a `repartition(8, id)` shuffle write.
    *
    * One narrow map pass + an 8-bucket agg per layout, the id-domain
    * bounds a 1-row broadcast — no writes, no sorts, no driver actions.
    * The report's math needs only these (mn, mx, cnt) triples, and the
    * oracle splices the SAME rows as literals, so synthesized and
    * measured stats are interchangeable downstream.
    */
  private def syntheticLayoutStats(emb: DataFrame): DataFrame = {
    val bounds = broadcast(emb.agg(min("vec_id").as("lo"), max("vec_id").as("hi")))
    val base = emb.select(col("vec_id").as("id"), col("label")).crossJoin(bounds)
    // integer bucket width ⌊span/8⌋+1 keeps every bucket index in [0, 7]
    def stats(name: String, bucket: Column, keyed: DataFrame): DataFrame =
      keyed.withColumn("b", bucket)
        .groupBy("b")
        .agg(min("id").as("mn"), max("id").as("mx"), count(lit(1)).as("cnt"))
        .select(concat(lit(s"synth:$name/"), col("b")).as("f"),
          col("mn"), col("mx"), col("cnt"))
        .withColumn("layout", lit(name))
    // `div` (not `/`): exact long division for the bucket index
    val idsorted = stats("idsorted",
      expr("(id - lo) div ((hi - lo) div 8 + 1)"), base)
    val zkeyed = base.withColumn("z", interleaveBits(pmod(col("id"), lit(65536L)),
      pmod(col("label").cast("long"), lit(65536L)), 16))
    val zbounds = broadcast(zkeyed.agg(min("z").as("zlo"), max("z").as("zhi")))
    val zordered = stats("zordered",
      expr("(z - zlo) div ((zhi - zlo) div 8 + 1)"), zkeyed.crossJoin(zbounds))
    val hashspread = stats("hashspread", pmod(hash(col("id")), lit(8)), base)
    idsorted.unionByName(zordered).unionByName(hashspread)
  }

  /** The bounded per-file stats of all four lookup layouts, tagged —
    * shared by [[lookupCostModel]] and the oracle generator (which
    * splices the SAME rows in as literals, then re-derives the report
    * and the corpus-count cross-check independently). `clustered` is
    * MEASURED from the real serving artifact's files; the three
    * hypothetical layouts are synthesized ([[syntheticLayoutStats]]) —
    * nobody materializes 3× write amplification for a cost table.
    */
  private[graft] def lookupLayoutStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    layoutFileStats(spark, ivfPersistedPath(dir, emb, centroids))
      .withColumn("layout", lit("clustered"))
      .unionByName(syntheticLayoutStats(emb))
  }

  /** Point-lookup economics — the by-id twin of [[annCostModel]]'s
    * search report (reference: query_handle.rs point lookups served by
    * RocksDB key order; on a lake the layout IS the lookup index): for
    * 10 fixed probe ids, the rows a footer-pruned reader touches under
    * each persisted layout — cluster-partitioned (the ANN-serving
    * layout: id ranges span every file ⇒ a point lookup pays the whole
    * table), id-range-sorted (1 file per probe), Z-ordered on
    * (id, label) (the compromise), and hash-spread (the default
    * shuffle write). Everything derives from the REAL artifacts'
    * per-file min/max/count (bounded: layouts × files rows); rows
    * touched = Σ cnt over files whose range covers a probe — exact
    * integers, one final division for the fraction.
    */
  def lookupCostModel(spark: SparkSession, dir: String): DataFrame = {
    val stats = lookupLayoutStats(spark, dir)
    val probes = typedLit(lookupProbeIds)
    val total = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n"))
    stats
      .select(col("layout"), col("cnt"),
        size(filter(probes, p => p >= col("mn") && p <= col("mx"))).as("n_hit"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum(col("cnt") * col("n_hit")).as("rows_touched"))
      .crossJoin(broadcast(total))
      .select(col("layout"), col("n_files"), col("rows_touched"),
        roundTo(col("rows_touched").cast("double")
          / (col("n").cast("double") * lit(lookupProbeIds.size.toDouble)), 6)
          .as("frac"))
      .orderBy("layout")
  }

  /** The delete twin end-to-end (reference: faiss_index.rs:131
    * remove_vectors, vector_database.rs:32-38): dedicated persisted
    * layouts (cluster-partitioned IVF + 8-byte PQ codes) carry a
    * tombstone sidecar for ids {0, 59} — written INSIDE the artifact at
    * build, so the sidecar versions, GCs and restart-adopts with it —
    * and both backends serve the same query with the deleted rows
    * ABSENT, no rebuild. Both legs run in exactness mode (nprobe = K /
    * rerank ≥ n ⇒ provably brute force over the surviving rows), so the
    * oracle is the plain k-NN SQL over `vec_id NOT IN (0, 59)` — id 0
    * is the query's own vector, which without the delete would be
    * rank 1 at distance 0 at every SF. The query vector itself comes
    * from the RAW table: it is request-side data, not index state.
    */
  def deletePersisted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val deleted = Seq(0L, 59L)
    val fp = operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v2 upto_gen tombstones")
    val ivfPath = operators.Artifacts.resolve(spark, "ivf_del",
      operators.Artifacts.corpusKey(dir), fp) { tmp =>
      operators.IvfIndex.writePartitioned(emb, "embedding", centroids, tmp)
      operators.Tombstones.append(spark, tmp, deleted.toDF("vec_id"))
    }
    val pqPath = operators.Artifacts.resolve(spark, "pqcodes_del",
      operators.Artifacts.corpusKey(dir), fp) { tmp =>
      operators.PqIndex.writeCodes(emb, "vec_id", "embedding", books, tmp)
      operators.Tombstones.append(spark, tmp, deleted.toDF("id"))
    }
    val qv = queryVec(spark, dir, 0L)
    val ivfLeg = operators.IvfIndex.searchPersisted(spark, ivfPath, "vec_id", "embedding",
        centroids, qv, k = 10, nprobe = 16)
      .select(lit("ivf").as("backend"), col("rank"), col("id"), col("value"))
    val pqLeg = operators.PqIndex.searchPersisted(spark, pqPath, emb, "vec_id", "embedding",
        books, qv, k = 10, rerank = 1 << 20)
      .select(lit("pq").as("backend"), col("rank"), col("id"), col("value"))
    ivfLeg.unionByName(pqLeg).orderBy("backend", "rank")
  }

  /** Batch k-NN through the persisted PQ codes — the quantized-backend
    * twin of [[knnBatchIvf]] (every vec_id % 100 == 0 row is a query,
    * top-5 L2 each): ONE scan of the 8-byte codes artifact serves ALL
    * queries (each query's ADC table rides the broadcast query set,
    * computed in-plan), per-query rerank-100 cut via the bounded heap,
    * exact re-rank fetches raw vectors by id — the 100 TB batch-ANN
    * economics ("codes hot, vectors cold") for bulk evaluation. Plan
    * guard asserts the single codes scan.
    */
  def knnBatchPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val codes = spark.read.parquet(pqCodesPath(spark, dir, emb, books))
    val queries = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    operators.PqIndex.searchBatchAdc(codes, emb, "vec_id", "embedding",
        queries, "q_id", "q_vec", books, k = 5, rerank = 100)
      .orderBy("q_id", "rank")
  }

  /** IVFPQ: coarse-prune to 4 of 16 clusters, PQ-ADC rank the survivors,
    * exact re-rank the top-100 — see [[operators.PqIndex.searchIvf]].
    * Parameter-literal oracle over BOTH fitted artifacts (centroids and
    * codebooks).
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    operators.PqIndex.searchIvf(emb, "vec_id", "embedding", centroids, books,
      queryVec(spark, dir, 6L), k = 10, nprobe = 4, rerank = 100)
  }

  /** Binary (sign-bit) quantized search: hamming candidate scan over
    * 8-byte sign words (two 32-bit words for dim 64 — training-free 32×
    * compression), exact re-rank of the top-100 — see
    * [[operators.BinaryIndex]]. Sign bits derive from the data alone, so
    * the oracle is static SQL (no parameter literals).
    */
  def annBinary(spark: SparkSession, dir: String): DataFrame =
    operators.BinaryIndex.search(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir, 11L), k = 10, rerank = 100)

  /** SQ8 scalar-quantized search: rank by distance to the 1-byte/dim
    * reconstruction (see [[operators.SqIndex]]). Bounds are plain
    * min/max aggregates, so the oracle re-derives everything from the
    * data — no parameter literals.
    */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (mins, maxs) = operators.SqIndex.fitBoundsCached(emb, "embedding")
    operators.SqIndex.search(emb, "vec_id", "embedding", mins, maxs,
      queryVec(spark, dir, 9L), k = 10)
  }

  /** The fixed cuts of every quantized backend's rerank curve; the
    * curves then add a rerank = n leg that PROVABLY closes at recall
    * 1.0 (every candidate survives to the exact re-rank ⇒ the search IS
    * brute force) — built as [[operators.Knn.searchExact]], its provably
    * identical plan, with the n label riding IN-PLAN from a 1-row count
    * agg. Nothing here runs a driver-side job at query CONSTRUCTION
    * time ([[annSq8RerankCurve]] / [[annBinaryRerankCurve]] stay lazy
    * end-to-end).
    */
  private val rerankCuts = Seq(10, 25, 50, 100)

  /** The shared rerank = n closing leg: exact ∩ brute with the corpus
    * count as the in-plan row label.
    */
  private def rerankClosingLeg(emb: DataFrame, exact: DataFrame,
                               qv: Array[Float]): DataFrame = {
    val nLit = broadcast(emb.agg(count(lit(1)).cast("int").as("rerank")))
    val brute = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    exact.join(brute, "id")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(nLit)
      .select(col("rerank"), col("n_hits"),
        roundTo(col("n_hits") / lit(10L), 4).as("recall"))
  }

  /** SQ8 tuning curve: recall@10 of [[operators.SqIndex.searchAnyMetric]]
    * at rerank ∈ {10, 25, 50, 100, n} — the sqRerank knob's measured
    * tradeoff, completing the knob-curve family for the SQ8 backend
    * (IVF nprobe, LSH radius, PQ rerank, Matryoshka dim). Shared exact
    * leg; the rerank = n leg provably ends at 1.0.
    */
  def annSq8RerankCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (mins, maxs) = operators.SqIndex.fitBoundsCached(emb, "embedding")
    val qv = queryVec(spark, dir, 9L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val fixed = rerankCuts.map { r =>
      val approx = operators.SqIndex.searchAnyMetric(emb, "vec_id", "embedding",
        mins, maxs, qv, k = 10, rerank = r).select(col("id"))
      exact.join(approx, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(r).as("rerank"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }
    (fixed :+ rerankClosingLeg(emb, exact, qv)).reduce(_ unionAll _).orderBy("rerank")
  }

  /** Binary (sign-bit) tuning curve: recall@10 of
    * [[operators.BinaryIndex.search]] at the same rerank ladder — the
    * binaryRerank knob's measured tradeoff; the rerank = n leg provably
    * ends at 1.0 (same construction as [[annSq8RerankCurve]]).
    */
  def annBinaryRerankCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qv = queryVec(spark, dir, 11L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val fixed = rerankCuts.map { r =>
      val approx = operators.BinaryIndex.search(emb, "vec_id", "embedding", qv,
        k = 10, rerank = r).select(col("id"))
      exact.join(approx, "id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(r).as("rerank"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }
    (fixed :+ rerankClosingLeg(emb, exact, qv)).reduce(_ unionAll _).orderBy("rerank")
  }

  /** The query terms both retrieval legs share (fixed "user query"). */
  private[graft] val bm25Terms = Seq("spark", "hash", "join", "window", "vector")

  /** The corpus's materialized inverted index (term-sorted postings +
    * doc-length stats, [[operators.Retrieval.buildPostings]]) — the
    * text-side persisted index next to the IVF/PQ vector layouts: ONE
    * tokenize pass at build time; every BM25 consumer then reads the
    * term-pruned artifact (the `term IN (...)` filter reaches the
    * parquet scan of the sorted postings).
    */
  private def textPostings(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "postings", spec = "v2:positions") {
      operators.Retrieval.buildPostings(Tables.documents(spark, dir), "doc_id", "text")
    }

  /** The doc-side index table carries the lang metadata column so a
    * filtered search prunes this artifact scan directly — the
    * reference's scalar filter index riding the index
    * ([[operators.Retrieval.buildDocLengthsWithMeta]]). Consumers that
    * only need (doc_id, dl) ignore the extra column.
    */
  private def textDocLengths(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "doclen", spec = "v3:lang,n_chars") {
      operators.Retrieval.buildDocLengthsWithMeta(
        Tables.documents(spark, dir), "doc_id", "text", "lang", "n_chars")
    }

  /** BM25 top-10 keyword retrieval served from the materialized
    * inverted index — see [[operators.Retrieval.bm25TopKFromIndex]]
    * (identical arithmetic to the from-scratch
    * [[operators.Retrieval.bm25TopK]], which remains the index-free
    * path).
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    operators.Retrieval.bm25TopKFromIndex(textPostings(spark, dir),
      textDocLengths(spark, dir), bm25Terms, k = 10)

  /** The MUTATED text-index lifecycle, parameterized for the hash-gated
    * keyed row [[bm25TopKMutated]]. Replacement/append texts are plain
    * lowercase words (tokenizer-trivial) carrying query terms, so the
    * mutations MOVE the BM25 answer: stats (N, sum_dl), df and tf all
    * shift, and a resurrection or missed tombstone shifts them
    * differently.
    */
  private[graft] val bm25MutAppendId = 100000L
  private[graft] val bm25MutAppendText =
    "spark join vector hash window spark spark stream"
  private[graft] val bm25MutUpserts = Seq(
    3L -> "spark hash join window vector spark table pipeline",
    7L -> "window window vector hash corpus stream join")
  private[graft] val bm25MutDeletes = Seq(7L, 11L)

  /** The TextIndex artifact AFTER a full verb chain — build at gen 0,
    * then through the facade verbs under the `_inflight` marker + atomic
    * `_pubgen` publish protocol: gen 1 APPEND of a new document, gen 2
    * latest-wins UPSERT of two standing docs (re-tokenize the batch
    * only, tombstone the superseded postings/doclen rows at upto=g-1),
    * gen 3 DELETE of two ids — one of them the just-upserted doc 7, so
    * the tombstone LAYERING is load-bearing (its gen-2 rows must die
    * under the gen-3 tombstone while doc 3's gen-2 rows outlive their
    * gen-1 one). Mutations run INSIDE the artifact resolve
    * (deterministic fingerprint); the oracle re-derives BM25 over the
    * MERGED corpus (documents minus deleted, upserted texts replaced,
    * appended doc added) — N, avgdl, df, tf all from the
    * latest-wins view, so a resurrected generation or a half-applied
    * publish goes hash-red at every SF.
    */
  private[graft] def mutatedTextPath(spark: SparkSession, dir: String): String =
    operators.Artifacts.resolve(spark, "tindex_mut",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "v2 text verbs a/u/d")) { tmp =>
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      var idx = api.TextIndex.build(docs, "doc_id", "text", tmp)
      idx = idx.append(Seq((bm25MutAppendId, bm25MutAppendText)).toDF("doc_id", "text"),
        "doc_id", "text")
      idx = idx.upsert(bm25MutUpserts.toDF("doc_id", "text"), "doc_id", "text")
      idx.delete(bm25MutDeletes.toDF("doc_id"))
      ()
    }

  /** BM25 top-10 served from the MUTATED index through the production
    * facade (load → search) — the text-side keyed hash gate on the
    * mutation machinery, twin of [[annGraphMutated]].
    */
  def bm25TopKMutated(spark: SparkSession, dir: String): DataFrame =
    api.TextIndex.load(spark, mutatedTextPath(spark, dir)).search(bm25Terms, k = 10)

  /** Metadata-filtered keyword retrieval (reference:
    * filter_index.rs:23-104 Operation::Equal composed with search, the
    * text leg of hnsw_index.rs search_vectors_filter): BM25 top-10
    * over the lang = 'en' sub-corpus served from the SHARED index
    * artifacts. The lang predicate prunes the doc-side artifact scan
    * (metadata rides the doc-length table the way dl rides the
    * posting), the term predicate prunes the postings scan, and the
    * term-pruned postings broadcast into the allowed side — the
    * corpus-proportional leg never shuffles. Provably ≡ an index built
    * on the filtered corpus (RetrievalSpec).
    */
  def filteredBm25(spark: SparkSession, dir: String): DataFrame =
    operators.Retrieval.bm25TopKFromIndexFiltered(textPostings(spark, dir),
      textDocLengths(spark, dir), col("lang") === "en", bm25Terms, k = 10)

  /** Filtered BM25 with the reference's OTHER filter shapes composed —
    * Operation::NotEqual (filter_index.rs:53-60) plus a numeric range,
    * the two predicates a scalar filter index serves beyond equality:
    * lang != 'de' AND n_chars ∈ [200, 1200] over the SHARED artifacts
    * (both columns ride the doc-length table; both predicates push to
    * its scan). Same provable contract as [[filteredBm25]]: ≡ an index
    * built on the filtered corpus, stats/df recomputed over the
    * sub-corpus (RetrievalSpec).
    */
  def filteredBm25Ne(spark: SparkSession, dir: String): DataFrame =
    operators.Retrieval.bm25TopKFromIndexFiltered(textPostings(spark, dir),
      textDocLengths(spark, dir),
      col("lang") =!= "de" && col("n_chars").between(200, 1200), bm25Terms, k = 10)

  /** Filtered BATCH keyword retrieval — the text twin of
    * [[filteredKnnBatch]], completing the composition square
    * (single/batch × unfiltered/filtered) on the text leg: three fixed
    * term-set queries, each answered top-5 over ONLY lang = 'en'
    * documents from the SHARED artifacts in ONE plan
    * ([[operators.Retrieval.bm25TopKBatchFromIndexFiltered]]); stats
    * and df recomputed over the sub-corpus, per query provably ≡ the
    * filtered single-query operator (RetrievalSpec).
    */
  def filteredBm25Batch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val queryTerms = Seq(
      (1L, "spark"), (1L, "hash"),
      (2L, "join"), (2L, "window"),
      (3L, "vector"), (3L, "table")).toDF("q_id", "term")
    operators.Retrieval.bm25TopKBatchFromIndexFiltered(textPostings(spark, dir),
        textDocLengths(spark, dir), col("lang") === "en", queryTerms, k = 5)
      .orderBy("q_id", "rank")
  }

  /** Exact phrase search ("table hash") over the POSITIONAL inverted
    * index — the Lucene PhraseQuery capability that separates a real
    * index from a bag-of-words score table: term-pruned postings scan,
    * one doc_id equi-join per extra phrase term, in-row positional
    * intersection, ranked by exact phrase frequency
    * ([[operators.Retrieval.phraseSearchFromIndex]]). Oracle re-derives
    * positions from raw text.
    */
  def textPhraseSearch(spark: SparkSession, dir: String): DataFrame =
    operators.Retrieval.phraseSearchFromIndex(textPostings(spark, dir),
      Seq("table", "hash"), k = 10)

  /** Proximity search ("table" … "hash" within 4 tokens, ordered) over
    * the positional index — the SpanNear/slop knob beside the exact
    * phrase ([[operators.Retrieval.nearSearchFromIndex]]); ranked by
    * the exact ordered-pair count, oracle re-derived from raw text.
    */
  def textNearSearch(spark: SparkSession, dir: String): DataFrame =
    operators.Retrieval.nearSearchFromIndex(textPostings(spark, dir),
      "table", "hash", window = 4, k = 10)

  /** n-clause proximity search ("table" … "hash" … "join", each gap ≤ 4
    * tokens, in order) — the full Lucene SpanNearQuery shape over the
    * positional index: the |terms|−1-step foldLeft chain join of
    * [[operators.Retrieval.nearSearchFromIndex]], ranked by the exact
    * ordered-chain count; oracle re-derives all three position lists
    * from raw text and counts the same chains.
    */
  def textNearSearchMulti(spark: SparkSession, dir: String): DataFrame =
    operators.Retrieval.nearSearchFromIndex(textPostings(spark, dir),
      Seq("table", "hash", "join"), window = 4, k = 10)

  /** Inverted-index health report — the text-index member of the
    * index-stats family ([[indexStats]] reports the vector side):
    * corpus size, vocabulary size, posting volume, token mass, the
    * heaviest document frequency, and the postings/doc and avg-doclen
    * ratios — the capacity numbers a deployment sizes its keyword tier
    * from. Everything reads the two artifact tables (bounded partial
    * aggs; the n_tokens-from-postings vs avg_dl-from-doclen pair is a
    * built-in consistency check the oracle re-derives from raw text).
    */
  def textIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val p = textPostings(spark, dir)
    val dfAgg = p.groupBy("term").agg(count(lit(1)).as("df"))
    val ps = p.agg(count(lit(1)).as("n_postings"), sum("tf").as("n_tokens"))
    val vs = dfAgg.agg(count(lit(1)).as("n_terms"), max("df").as("max_df"))
    val ds = textDocLengths(spark, dir)
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    ds.crossJoin(ps).crossJoin(vs)
      .select(col("n_docs"), col("n_terms"), col("n_postings"), col("n_tokens"),
        col("max_df"),
        roundTo(col("n_postings").cast("double") / col("n_docs").cast("double"), 4)
          .as("postings_per_doc"),
        roundTo(col("sum_dl").cast("double") / col("n_docs").cast("double"), 4)
          .as("avg_dl"))
  }

  /** Hybrid retrieval: the multimodal feature-sketch k-NN leg (same
    * decode → embed path as [[multimodalEmbed]], top-50) fused with the
    * BM25 keyword leg (top-50) by reciprocal-rank fusion, top-20 — the
    * keyword+vector ranking a real deployment of the reference serves.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val feats = mediaFeats(spark, dir)
    val probe = mediaProbe(spark, dir)
    val vecLeg = Knn.searchExact(feats, "doc_id", "features", probe, k = 50, metric = "l2")
      .select(col("id").as("doc_id"), col("rank"))
    val textLeg = operators.Retrieval.bm25TopKFromIndex(textPostings(spark, dir),
        textDocLengths(spark, dir), bm25Terms, k = 50)
      .select(col("doc_id"), col("rank"))
    operators.Retrieval.rrfFuse(vecLeg, textLeg, k = 20)
  }

  /** Metadata-filtered HYBRID retrieval — the filter composed into BOTH
    * legs before fusion (the reference filters its vector search;
    * a hybrid deployment must filter the keyword leg identically or
    * the fusion leaks excluded docs): the vector leg ranks only
    * lang = 'en' docs (filter pushed to the documents scan under the
    * feature-sketch k-NN), the keyword leg is [[filteredBm25]]'s
    * doc-side-pruned BM25, and RRF fuses the two filtered top-50 lists
    * into the top-20. The probe doc (7) is the query, not a candidate
    * constraint — same as filtered k-NN, where the query vector needn't
    * satisfy the filter.
    */
  def filteredHybrid(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the filter prunes the media table BEFORE decode (a semi-join on
    // the filtered doc ids — only matching payloads are parsed)
    val media = mediaTable(spark, dir)
      .join(docs.where(col("lang") === "en").select("doc_id"), Seq("doc_id"), "leftsemi")
    val feats = operators.Multimodal.decode(media).toDF().select(col("doc_id"), col("features"))
    val probe = mediaProbe(spark, dir)
    val vecLeg = Knn.searchExact(feats, "doc_id", "features", probe, k = 50, metric = "l2")
      .select(col("id").as("doc_id"), col("rank"))
    val textLeg = operators.Retrieval.bm25TopKFromIndexFiltered(textPostings(spark, dir),
        textDocLengths(spark, dir), col("lang") === "en", bm25Terms, k = 50)
      .select(col("doc_id"), col("rank"))
    operators.Retrieval.rrfFuse(vecLeg, textLeg, k = 20)
  }

  /** Alpha-weighted hybrid search (α = 0.6 vector, 0.4 keyword) over
    * the same two legs as [[hybridRrf]] — the score-blend fusion mode
    * next to RRF's rank blend (both knobs ship in real vector stores;
    * they disagree exactly when one leg's scores are bunched). Legs are
    * 1e-4-fixed before the k'-bounded min-max normalization
    * ([[operators.Retrieval.weightedFuse]]).
    */
  def hybridWeighted(spark: SparkSession, dir: String): DataFrame = {
    val feats = mediaFeats(spark, dir)
    val probe = mediaProbe(spark, dir)
    val vecLeg = Knn.searchExact(feats, "doc_id", "features", probe, k = 50, metric = "l2")
      .select(col("id").as("doc_id"),
        floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
    val textLeg = operators.Retrieval.bm25TopKFromIndex(textPostings(spark, dir),
        textDocLengths(spark, dir), bm25Terms, k = 50)
      .select(col("doc_id"), floor(col("score") * 10000 + lit(0.5)).cast("long").as("s4"))
    operators.Retrieval.weightedFuse(vecLeg, textLeg, k = 20)
  }

  /** Gopher-style repetition signals (top-2-gram fraction, duplicate
    * 3-gram fraction) — see [[operators.TextAnalysis.repetition]].
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(spark, dir), "doc_id", "text")

  /** Retrieval-quality eval: recall@10 and MRR of doc-as-query BM25
    * ([[operators.Retrieval.bm25TopKBatch]], leave-self-out) against
    * the exact embedding top-10 as relevance ground truth — the
    * measured-quality artifact the keyword leg was missing (the ANN
    * legs have recall curves; this closes the loop for BM25). Five
    * fixed query docs at any SF, so every stage is query-set-bounded:
    * batch BM25 shuffles O(queries × k), the truth leg is the batch
    * exact-kNN bounded heap, and the verdict join is 50 rows a side.
    */
  def retrievalRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val qids = Seq(7L, 107L, 207L, 307L, 407L)
    val docs = Tables.documents(spark, dir)
    val qterms = docs.where(col("doc_id").isin(qids: _*))
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(wordTokens(col("text")))).as("term"))
    val bm = operators.Retrieval.bm25TopKBatchFromIndex(textPostings(spark, dir),
      textDocLengths(spark, dir), qterms, k = 10, excludeQueryDoc = true)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // leave-self-out truth: self is excluded BEFORE the top-10 cut
    // (top-11-minus-self gains a phantom row when ≥ 11 exact dups of
    // lower id exist — matching the oracle's filter-then-rank)
    val truth = Knn.searchBatch(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
        k = 10, metric = "l2", excludeSelf = true)
      .select(col("q_id").as("t_q"), col("n_id").as("t_id"))
    val hits = bm.join(truth, col("q_id") === col("t_q") && col("doc_id") === col("t_id"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("rank")).as("best_rank"))
    queries.select(col("q_id").as("q_doc"))
      .join(hits, col("q_doc") === col("q_id"), "left")
      .select(col("q_doc"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) / 10.0).as("recall_at_10"),
        coalesce(lit(1.0) / col("best_rank"), lit(0.0)).as("mrr"))
      .orderBy("q_doc")
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis one-pass
    * reservoir): selection key = −ln(u)/w with a deterministic per-doc
    * uniform u and weight w = n_chars — an exponential race where
    * longer docs win proportionally more often. The whole sample is a
    * map-side key computation + one TakeOrdered bounded heap: O(n)
    * scan, O(k) shuffle rows at any corpus size. Complements the
    * rate-based mixture sample (proportions) and the stratified sample
    * (hard per-stratum budgets) with importance weighting.
    */
  def corpusWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (tokenHash60(concat(lit("wsample:"), col("doc_id").cast("string")))
      .cast("double") + 1.0) / lit(1.152921504606846976e18)
    val key = -log(u) / col("n_chars")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), key.as("es_key"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(50)
      // cardinality bound: global window runs over the 50 post-limit
      // survivors only (TakeOrdered cut), never the corpus
      .withColumn("pick", row_number().over(Window.orderBy(col("es_key"), col("doc_id"))))
      .select(col("pick"), col("doc_id"), col("n_chars"),
        roundTo(col("es_key"), 9).as("es_key"))
  }

  /** The mixture-sampling rates the corpus_sample query and its oracle
    * share: heavy downsampling of four named sources, 80% of the rest.
    */
  private[graft] val sampleRates = Map("src0" -> 10, "src1" -> 10, "src2" -> 25, "src3" -> 50)

  /** Deterministic weighted mixture sample — see
    * [[operators.Corpus.sampleMixture]].
    */
  def corpusSample(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.sampleMixture(Tables.documents(spark, dir), "doc_id", "source",
      sampleRates, defaultRate = 80)

  /** Domain-mixture rebalancing to an EQUAL per-source character share —
    * the static data-mixing step of a training pipeline. Unlike
    * [[corpusSample]] (rates given), the rates are DERIVED from the
    * data: budget = min over sources of chars_s (the largest equal share
    * servable without upsampling), rate_s = ⌊budget·10⁴ / chars_s⌋ basis
    * points, keep = deterministic doc-id hash mod 10⁴ under the source's
    * rate. Per-source totals are one S-row partial agg; the rates rejoin
    * the scan by source (hint-free keyed join — AQE broadcasts the tiny
    * side); the keep decision is map-side. Every value crossing the gate
    * is an exact integer, so the report (in/out docs and chars, achieved
    * rate) cannot flap.
    */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
    val totals = docs.groupBy("source").agg(sum("n_chars").as("chars_in"))
    // budget = min source total, taken as a window over the S aggregated
    // rows (bounded by source cardinality) so the totals leg is scanned
    // once, not twice
    val rates = totals
      .withColumn("budget", min(col("chars_in")).over(Window.partitionBy()))
      .select(col("source"), expr("(budget * 10000) div chars_in").as("rate_bp"))
    // one pass over the rated scan produces both the in- and kept-side
    // report (keep folded into conditional aggregates — no second leg,
    // no outer join)
    val keep = pmod(tokenHash60(concat(lit("mix:"), col("doc_id").cast("string"))),
      lit(10000L)) < col("rate_bp")
    docs.join(rates, "source")
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs_in"),
        sum("n_chars").as("chars_in"),
        min("rate_bp").as("rate_bp"),
        sum(when(keep, lit(1L)).otherwise(lit(0L))).as("docs_kept"),
        sum(when(keep, col("n_chars")).otherwise(lit(0L))).as("chars_kept"))
      .orderBy("source")
  }

  /** The skew guard under the hard gate: event_type is low-cardinality
    * (every key is hot), so the aggregation runs through
    * [[operators.Skew.saltedAggregate]] — hot-key combine state spreads
    * over 8 salted reducers, then a tiny merge pass. All aggregates are
    * order-exact longs, so the salted plan must produce the plain
    * GROUP BY answer bit-for-bit.
    */
  def eventsSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    operators.Skew.saltedAggregate(
        Tables.events(spark, dir).select("event_type", "event_id"),
        key = "event_type", numSalts = 8,
        aggs = Seq(
          "n" -> ((col("event_id"), "count")),
          "min_event_id" -> ((col("event_id"), "min")),
          "max_event_id" -> ((col("event_id"), "max"))))
      .orderBy("event_type")

  /** Per-key skew profile of the two join/agg key columns — the
    * measurement artifact the salting decision needs ([[eventsSaltedAgg]]
    * and [[eventsSaltedJoin]] are the cures; this is the diagnosis):
    * key cardinality, hottest key and its count, and skew ratio =
    * max_cnt / mean_cnt (1.0 = uniform; ≳ numSalts ⇒ salt). Both
    * columns ride one scan via a map-side (col, key) explode; the
    * per-key counts combine map-side; the profile is an S-row second
    * agg. The hottest key is the struct-max argmax (ties to the
    * lexicographically largest key — deterministic), and the ratio is
    * one double division of exact longs.
    */
  def eventsSkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val kv = Tables.events(spark, dir)
      .select(explode(array(
        struct(lit("user_id").as("col_name"), col("user_id").cast("string").as("key")),
        struct(lit("event_type").as("col_name"), col("event_type").as("key")))).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.key").as("key"))
    kv.groupBy("col_name", "key").agg(count(lit(1)).as("cnt"))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"),
        max(struct(col("cnt"), col("key"))).as("top"))
      .select(col("col_name"), col("n_keys"), col("n_rows"), col("max_cnt"),
        col("top.key").as("top_key"),
        roundTo((col("max_cnt") * col("n_keys")).cast("double") / col("n_rows"), 4)
          .as("skew_ratio"))
      .orderBy("col_name")
  }

  /** Latest-wins upsert (reference: VectorDatabase::upsert,
    * src/db/vector_database.rs:24-83). Updates: every vec_id % 7 == 0 gets
    * label+100; every vec_id % 97 == 0 also inserts a brand-new id.
    */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label")
    val updates = emb.where(col("vec_id") % 7 === 0)
      .select(col("vec_id"), (col("label") + 100).as("label"))
      .unionAll(emb.where(col("vec_id") % 97 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), lit(-1).as("label")))
    Upsert.merge(emb, updates, "vec_id").orderBy("vec_id")
  }

  /** Tombstone delete (reference: FaissIndex::remove_vectors,
    * src/db/vector_database.rs:32-38 — the remove half of upsert as a
    * standalone verb): drop every vec_id % 13 == 0, return the survivors.
    */
  def deleteIds(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label")
    val victims = emb.where(col("vec_id") % 13 === 0).select("vec_id")
    Upsert.delete(emb, victims, "vec_id").orderBy("vec_id")
  }

  /** CDC batch apply — the reference's three mutation verbs (insert /
    * upsert / delete) as one change log folded into the state in a
    * single MERGE-shaped pass ([[Upsert.applyCdc]]): per key the
    * highest-version change wins; surviving D rows tombstone. The
    * synthetic log exercises all three verbs plus intra-batch
    * versioning (vec_id%20 keys carry TWO updates — v2 must win;
    * vec_id%30 keys end deleted; %97 keys insert fresh ids).
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "label")
    val u1 = emb.where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), lit(1L).as("ver"), lit("U").as("op"), (col("label") + 50).as("label"))
    val u2 = emb.where(col("vec_id") % 20 === 0)
      .select(col("vec_id"), lit(2L).as("ver"), lit("U").as("op"), (col("label") + 60).as("label"))
    val del = emb.where(col("vec_id") % 30 === 0)
      .select(col("vec_id"), lit(3L).as("ver"), lit("D").as("op"), lit(-1).as("label"))
    val ins = emb.where(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 2000000L).as("vec_id"), lit(1L).as("ver"), lit("I").as("op"), lit(-7).as("label"))
    Upsert.applyCdc(emb, u1.unionAll(u2).unionAll(del).unionAll(ins), "vec_id", "ver")
      .orderBy("vec_id")
  }

  /** Per-label class centroids of the embedding table (cluster
    * prototypes / per-class mean vectors): each float component fixed
    * to an exact 1e-6 long once, per-(label, dim) sums exact in any
    * aggregation order, ONE division at the end — the posexplode is
    * map-side and the only shuffle is the (label, dim) partial agg,
    * ≤ |labels|·dim rows at any table size.
    */
  def vectorCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * 1000000.0 + lit(0.5)).cast("long")).as("s6"))
      .select(col("label"), col("d"), col("n"),
        roundTo(col("s6") / (col("n") * lit(1000000.0)), 4).as("mean"))
      .orderBy("label", "d")

  /** Pairwise L2 distances between the per-label class centroids
    * (cluster-separation diagnostics — which classes overlap). Exact
    * despite the means being ratios: mean_a − mean_b =
    * (s6a·nb − s6b·na)/(na·nb·10⁶), so the squared-distance NUMERATOR
    * Σ(s6a·nb − s6b·na)² accumulates as exact DECIMAL(38,0) integers
    * in any order; one sqrt and one division at the end (both
    * correctly-rounded IEEE ops). |labels|²·dim work on a
    * |labels|·dim table — trivial at any corpus size.
    */
  def vectorCentroidDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * 1000000.0 + lit(0.5)).cast("long")).as("s6"))
    val a = c.select(col("label").as("label_a"), col("d"), col("n").as("na"), col("s6").as("s6a"))
    val b = c.select(col("label").as("label_b"), col("d"), col("n").as("nb"), col("s6").as("s6b"))
    a.join(b, Seq("d"))
      .where(col("label_a") < col("label_b"))
      .withColumn("term", (col("s6a") * col("nb") - col("s6b") * col("na")).cast("decimal(38,0)"))
      .groupBy("label_a", "label_b")
      .agg(max("na").as("na"), max("nb").as("nb"), sum(col("term") * col("term")).as("num"))
      .select(col("label_a"), col("label_b"),
        roundTo(sqrt(col("num").cast("double")) /
          (col("na") * col("nb") * lit(1000000.0)), 4).as("dist"))
      .orderBy("label_a", "label_b")
  }

  /** Diversity retrieval: top-2 nearest per label for one query — see
    * [[operators.Knn.searchGrouped]] (bounded-heap per group, never a
    * full per-group sort).
    */
  def knnPerLabel(spark: SparkSession, dir: String): DataFrame =
    Knn.searchGrouped(Tables.embeddings(spark, dir), "vec_id", "embedding", "label",
        queryVec(spark, dir, 13L), k = 2, metric = "l2")
      .orderBy("label", "rank")

  /** Point lookup (reference: query_handle.rs — get document by id). */
  def queryById(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("doc_id") === 42L)
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** Materialized inverted filter index: value → id-set summary
    * (reference: FilterIndex::update_int_field_filter, filter_index.rs:67-104;
    * the roaring bitmap per value is summarized as count/min/max/sum since
    * a bitmap is not a relational value).
    */
  def filterIndexBuild(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .groupBy(col("label").as("value"))
      .agg(
        count(lit(1)).as("cnt"),
        min("vec_id").as("min_id"),
        max("vec_id").as("max_id"),
        sum("vec_id").as("id_sum"))
      .orderBy("value")

  /** Per-index stats (reference: IndexFactory bookkeeping, index_factory.rs). */
  def indexStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(size(col("embedding")).as("dim"), vecNorm(col("embedding")).as("nrm"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        roundTo(avg("nrm"), 4).as("avg_norm"),
        roundTo(min("nrm"), 4).as("min_norm"),
        roundTo(max("nrm"), 4).as("max_norm"))
      .orderBy("dim")

  // =====================================================================
  // B. Deduplication
  // =====================================================================

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  /** The corpus's written-once dedup signature artifact
    * ([[operators.Dedup.index]]): signatures, uncut candidate tables
    * and the est ≥ 0.5 cluster map materialize as parquet on FIRST use
    * per JVM; every dedup reporting query below then reads the artifact
    * instead of re-tokenizing/re-signing/re-clustering the corpus —
    * the fix for the r7 finding that seven reporting queries re-derived
    * the whole chain (≈ 13 s of the sf0.1 bench). Like the persisted
    * IVF/PQ layouts, the build is a one-time index cost (Bench's warm-up
    * pass), not query latency.
    */
  private def dedupIdx(spark: SparkSession, dir: String): Dedup.DedupIndex =
    Dedup.index(Tables.documents(spark, dir), "doc_id", "text")

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupIdx(spark, dir).minhashPairs(minEst = 0.25)

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    dedupIdx(spark, dir).simhashPairs(maxHamming = 8)

  /** Cross-source contamination matrix: near-dup pairs rolled up by
    * (source, source) — the diagnostic that tells a corpus curator
    * WHERE duplication lives (within a crawl snapshot vs leaking across
    * sources). The pair table is the already-bounded minhash candidate
    * output (narrow ids); sources attach via two doc_id-keyed joins,
    * and the unordered source pair canonicalizes with least/greatest so
    * (A,B) and (B,A) count together. Cost beyond the dedup pass itself:
    * two keyed joins on the SMALL pair table + one partial agg.
    */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = dedupIdx(spark, dir).minhashPairs(minEst = 0.25)
      .select("a_id", "b_id")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnRenamed("doc_id", "a_id").withColumnRenamed("source", "sa"), "a_id")
      .join(src.withColumnRenamed("doc_id", "b_id").withColumnRenamed("source", "sb"), "b_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Zipf coverage curve: what fraction of the corpus's token mass the
    * top-N vocabulary words cover (N = 1/10/100/1000) — the
    * tokenizer-budget diagnostic (how small a vocab still covers the
    * stream). The rank/cumsum window runs over the VOCABULARY table
    * (bounded by distinct words, never corpus rows); coverages are one
    * conditional aggregation of exact long cumulative sums, divided
    * once.
    */
  def corpusZipfCoverage(spark: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(spark, dir)
      .select(explode(wordTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    // counts-of-counts: words with equal frequency are interchangeable
    // for token MASS, so the top-N mass needs only the (frequency →
    // #words) distribution — the cumulative window spans distinct
    // frequencies (O(√tokens) under any Zipf-ish law), never the
    // vocabulary itself. Top-N mass = cum_mass at the first crossing
    // row minus the excess words' mass at that row's frequency —
    // provably equal to ranking word-by-word (the oracle keeps the
    // word-rank formulation and the hash gate proves the equivalence).
    val cc = wc.groupBy("n").agg(count(lit(1)).as("m"))
      .withColumn("mass", col("n") * col("m"))
    // cardinality bound: the window input is the counts-of-counts table
    // — one row per DISTINCT frequency, O(√total-tokens) at any corpus
    // size (heavy-tail identity), never the vocab or the corpus
    val byFreq = Window.orderBy(col("n").desc)
    val cum = cc
      .withColumn("cum_w", sum("m").over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_mass", sum("mass").over(
        byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def massTop(k: Int): Column = // mass of the k highest-frequency words
      coalesce(
        min(when(col("cum_w") >= k,
          struct(col("cum_w"),
            (col("cum_mass") - (col("cum_w") - k) * col("n")).as("mk"))))("mk"),
        max("cum_mass"))
    def cov(k: Int): Column =
      roundTo(massTop(k).cast("double") / max("cum_mass"), 6).as(s"cov_$k")
    cum.agg(max("cum_w").as("n_vocab"), max("cum_mass").as("n_tokens"),
      cov(1), cov(10), cov(100), cov(1000))
  }

  /** Triangle count + global clustering coefficient of the near-dup
    * pair graph — the third graph metric next to connected components
    * ([[dedupClusters]]) and PageRank ([[corpusTextrank]]): how
    * CLIQUE-LIKE the duplicate neighborhoods are (cc → 1 means dup
    * groups are tight clusters; cc → 0 means chains, i.e. transitive
    * closure is doing real work). Spark-first shape: every edge is
    * oriented from its lower-(degree, id) endpoint, so each triangle
    * has exactly ONE source vertex with two out-edges and wedge
    * enumeration is Σ outdeg² with outdeg = O(√m) — the classic
    * bounded-orientation trick, never Σ deg² on hub vertices. The
    * closing-edge check is an equi-join against the normalized edge
    * set. Wedge totals are exact integers from the degree table; the
    * coefficient is one double expression of exact longs.
    */
  def dedupGraphStats(spark: SparkSession, dir: String): DataFrame = {
    // ordered = false: the edge set feeds degree counts and wedge joins,
    // never a listing — EliminateSorts drops the kernel sort under the
    // join branches but not under the Generate (degree explode) branch,
    // which otherwise pays a rangepartitioning Exchange of the pairs.
    val edges = dedupIdx(spark, dir).minhashPairs(minEst = 0.25, ordered = false)
      .select(col("a_id").as("x"), col("b_id").as("y")) // x < y, distinct
    val deg = edges.select(explode(array(col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    val oriented = withDeg.select(
        when(col("dx") < col("dy") ||
             (col("dx") === col("dy") && col("x") < col("y")),
          struct(col("x").as("u"), col("y").as("w")))
        .otherwise(struct(col("y").as("u"), col("x").as("w"))).as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"))
    val wedge = oriented.select(col("u"), col("w").as("w1"))
      .join(oriented.select(col("u"), col("w").as("w2")), "u")
      .where(col("w1") < col("w2"))
    val tri = wedge.join(edges, col("w1") === col("x") && col("w2") === col("y"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeStats = edges.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(roundTo(lit(3.0) * col("n_triangles") / col("n_wedges"), 4))
          .as("global_cc"))
  }

  /** Char-8-gram Jaccard ≥ 0.65 pairs, blocked on each document's
    * df-capped rare-gram minimum ([[operators.Dedup.withRareGramBlock]]
    * fused into [[operators.Dedup.ngramJaccardPairsRareBlocked]]):
    * |block| ≤ df(blocking gram) ≤ 100 BY CONSTRUCTION at any corpus
    * size, so the in-block pair scan is bounded everywhere — unlike a
    * fixed-cardinality key like `source` (blocks ∝ n ⇒ O(n²)) or a
    * plain min-gram MinHash (a ubiquitous small-hash gram collects a
    * Θ(n) block on templated corpora). Gram width 8 (winnowing's k):
    * the char-3-gram space saturates on a small vocabulary (377
    * distinct grams corpus-wide at sf0.1 — none rare), while 8-grams
    * span word boundaries and stay discriminative. Completeness, when
    * required, is [[dedupJaccardPrefix]]'s job; cap-exceeding duplicate
    * clusters are [[dedupExact]]/[[dedupMinhash]]'s.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    // chunks = 1: blocks are ≤ dfCap docs, so the big-block triangle
    // fan-out would be pure replication
    Dedup.ngramJaccardPairsRareBlocked(Tables.documents(spark, dir),
      "doc_id", "text", n = 8, minJaccard = 0.65, dfCap = 100L, chunks = 1)

  /** Corpus-global word-3-shingle Jaccard ≥ 13/20 via df-ordered prefix
    * filtering + PPJoin length/position prunes — provably complete (no
    * block heuristic), see [[operators.Dedup.jaccardPrefixPairs]].
    */
  def dedupJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPrefixPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** Winnowing-fingerprint overlap pairs (MOSS): substring-level overlap
    * detection — docs sharing ≥ 5 selected k-gram fingerprints (k=8,
    * w=4, ubiquitous fingerprints df > 20 dropped) — see
    * [[operators.Dedup.winnowPairs]].
    */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** EXACT duplicated-span mining — the exact-substring member of the
    * dedup family (Lee et al. 2022's "dedup repeated spans" pass;
    * [[dedupWinnow]] is its SAMPLED counterpart): every 8-word span
    * recurring across ≥ 2 documents, with document and occurrence
    * counts. The shingle pass is one codegen kernel riding the scan
    * (explode is map-side), the per-span counts are two-phase partial
    * aggregation (the single distinct column plans as (span, doc)
    * partial-dedup → (span) count — no Expand), and the report cut is a
    * TakeOrdered bounded heap. At 100 TB the group key would be a
    * 128-bit span digest with min(span) kept as the exemplar to hold
    * shuffle bytes flat; the query keys on the raw span so the gate
    * compares exact strings end to end.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(wordShingleStrings(wordTokens(col("text")), 8)).as("span"))
      .groupBy("span")
      .agg(count_distinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
      .limit(50)

  /** The ACTIONABLE companion of [[dedupSpans]] — the transform the
    * repeated-span report feeds (Lee et al. 2022's actual dedup pass):
    * every occurrence of a cross-document 8-word span is excised from
    * the token stream EXCEPT in the span's canonical owner (min
    * doc_id), and the surviving tokens are reassembled in order.
    * Output per doc: tokens in, tokens kept, and the scrubbed
    * token-space text (reconstruction is exact on both engines: Spark
    * sorts the (pos, token) structs, the oracle uses an ORDER
    * BY-qualified string_agg). All joins are equi-joins on
    * (doc, position) or (span); covered positions are a bounded 8×
    * explode of the foreign occurrences; nothing is quadratic — see
    * [[operators.Dedup.spanScrub]].
    */
  def corpusSpanScrub(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanScrub(Tables.documents(spark, dir), "doc_id", "text", spanLen = 8)

  /** In-query quality evaluation of the MinHash sketch against ground
    * truth — the dedup twin of [[annRecallEval]]: candidates from LSH
    * banding at est ≥ 0.65 measured against the PROVABLY-complete
    * prefix-filter jaccard pairs at the same threshold. One constant
    * row (n_truth, n_sketch, n_hit, recall, prec) the oracle
    * re-derives end-to-end — "measure, don't guess" for the dedup
    * family's recall envelope.
    */
  def dedupRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the truth leg is the only from-scratch pass left (the
    // provably-complete prefix-jaccard ground truth, an honest eval
    // cost); the SKETCH leg rides the materialized artifact — same
    // banding, same est cut, zero extra corpus work. The shingle frame
    // has exactly ONE consumer (the kernel persists its own gram table
    // internally), so it flows through unpersisted — the old persist
    // paid a full cache write for nothing.
    // Both legs feed the union+fold below, never a listing — opt out of
    // the kernels' output sort explicitly (EliminateSorts cannot prove
    // order-irrelevance through Union, so each sort would otherwise pay
    // a rangepartitioning Exchange of the full pair mass).
    val truth = Dedup.jaccardPrefixPairsFromShingles(
      Dedup.shingleHashes(docs, "doc_id", "text"), ordered = false)
      .select("a_id", "b_id")
    val sketch = dedupIdx(spark, dir).minhashPairs(minEst = 0.65, ordered = false)
      .select("a_id", "b_id")
    // ONE aggregation chain for all three counts (the old shape ran
    // three separate count actions — truth, sketch, hits join — plus
    // two crossJoins, ~6 extra AQE stage-jobs on second-scale frames):
    // each pair carries a (t, s) membership flag, one groupBy folds the
    // two sides, and n_truth/n_sketch/n_hit are sums over the folded
    // flags — identical BIGINT counts, both sets are already distinct
    // on (a_id, b_id) by construction.
    truth.select(col("a_id"), col("b_id"), lit(1L).as("t"), lit(0L).as("s"))
      .unionByName(sketch.select(col("a_id"), col("b_id"), lit(0L).as("t"), lit(1L).as("s")))
      .groupBy("a_id", "b_id").agg(max("t").as("t"), max("s").as("s"))
      .agg(sum("t").as("n_truth"), sum("s").as("n_sketch"),
        sum(col("t") * col("s")).as("n_hit"))
      .select(col("n_truth"), col("n_sketch"), col("n_hit"),
        roundTo(col("n_hit") / col("n_truth"), 4).as("recall"),
        roundTo(col("n_hit") / col("n_sketch"), 4).as("prec"))
  }

  /** Canonical-doc assignment from minhash near-dup pairs (est ≥ 0.5):
    * every document maps to the min id of its duplicate cluster. Served
    * straight from the artifact's materialized cluster map — connected
    * components ran once at index-build time.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupIdx(spark, dir).clustersOrdered

  /** Embedding near-dup pairs via banded sign-LSH blocking (8 bands × 4
    * bits) — the bounded-cost scale path; the oracle re-derives buckets
    * from the same hyperplanes (parameter-literal SQL, Oracles.dynamic).
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      operators.LshIndex.bandPlanes(bands = 8, nBits = 4, dim = 64), minCosine = 0.35)

  /** The embedding-dedup threshold knob's readout (beside
    * [[dedupThresholdCurve]]'s minhash twin): candidate-pair counts at
    * min_cosine ∈ {0.2, 0.35, 0.5, 0.65, 0.8} — ONE df-capped blocked
    * candidate table (the [[dedupEmbedding]] kernel at threshold −1,
    * so every in-block pair carries its cosine), each curve point a
    * conditional count over the stored (4-dp) cosine column, never a
    * re-block. What a pipeline owner reads before picking the semantic
    * dedup cut.
    */
  def dedupEmbeddingThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val cand = Dedup.embeddingCosinePairs(Tables.embeddings(spark, dir),
      "vec_id", "embedding",
      operators.LshIndex.bandPlanes(bands = 8, nBits = 4, dim = 64),
      minCosine = -1.0)
      .select("cosine")
    // ONE pass with conditional counts (the old per-threshold union
    // re-ran the whole blocked candidate kernel per curve point);
    // count(when(...)) ≡ count over the filtered frame, same BIGINT
    val ts = Seq(0.2, 0.35, 0.5, 0.65, 0.8)
    val aggs = ts.zipWithIndex.map { case (t, i) =>
      count(when(col("cosine") >= t, lit(1))).as(s"n$i")
    }
    cand.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ts.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("min_cosine"), col(s"n$i").as("n_pairs"))
      }: _*)).as("r"))
      .select(col("r.min_cosine"), col("r.n_pairs"))
      .orderBy("min_cosine")
  }

  /** Incremental ingest dedup: the doc_id % 10 == 0 slice plays the
    * incoming batch, checked against the rest of the corpus — candidates
    * form only batch×corpus, never corpus×corpus
    * (see [[operators.Dedup.minhashPairsIncremental]]).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsIncremental(Tables.documents(spark, dir), "doc_id", "text",
      isNew = col("doc_id") % 10 === 0, minEst = 0.5)

  // =====================================================================
  // C. Text analysis
  // =====================================================================

  def textLangid(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(spark, dir), "doc_id", "text")

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(Tables.documents(spark, dir), "doc_id", "text")

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(spark, dir), "doc_id", "text")

  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(spark, dir), "doc_id", "text")

  // =====================================================================
  // C2. Corpus preparation (training-data pipeline)
  // =====================================================================

  /** Deterministic 80/10/10 hash split (see [[operators.Corpus.split]]). */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.split(Tables.documents(spark, dir), "doc_id")

  /** Top-50 vocabulary with term + document frequency. */
  def corpusVocab(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.vocab(Tables.documents(spark, dir), "doc_id", "text", k = 50)

  /** Composed cleaning pipeline: target-language ∧ quality ∧ canonical. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.clean(Tables.documents(spark, dir), "doc_id", "text")

  /** Token-budget contiguous packing per (source, 1000-doc shard)
    * stream. Packing is a running prefix sum — inherently serial within
    * a stream — so the stream must be BOUNDED: sharding by doc_id div
    * 1000 caps every window partition at 1000 rows (embarrassingly
    * parallel, at most one partial bin wasted per shard — exactly how a
    * real pipeline packs per input file). Partitioning the window by
    * `source` alone would serialize the whole corpus through a handful
    * of sort tasks at 100 TB.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("pack_shard",
        concat(col("source"), lit(":"), expr("doc_id div 1000").cast("string")))
    operators.Corpus.packSequences(docs, "doc_id", "text",
      groupCol = "pack_shard", budget = 512)
  }

  /** Canonical text normalization (casefold + punctuation/whitespace
    * collapse) — the first pass of every dedup/tokenize pipeline, as its
    * own operator: pure map-side string kernel, zero shuffle bar the
    * presentation sort.
    */
  def corpusNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("norm_text"))
      .withColumn("n_chars", length(col("norm_text")))
      .orderBy("doc_id")

  /** PII scrubbing (the redaction pass every training corpus runs):
    * emails and long digit runs replaced by placeholder tokens, with
    * per-doc match counts so the pipeline can audit redaction volume.
    * Pure map-side string kernel — zero shuffle bar the presentation
    * sort; the output carries a digest of the scrubbed text (narrow
    * rows) and the patterns are written in the regex subset Java and
    * RE2 interpret identically (character classes, +, bounded repeats
    * — no backrefs/lookarounds), so the oracle replays the exact
    * transform. The synthetic corpus contains no PII (counts 0, text
    * unchanged) — InvariantSpec proves the actual redaction on
    * synthetic PII strings.
    */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val num = "[0-9]{9,}"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(num)).as("n_longnums"),
        md5(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          num, "<NUM>")).as("scrubbed_digest"))
      .orderBy("doc_id")
  }

  /** Per-source unigram token entropy + type-token ratio — the lexical
    * diversity signals quality pipelines cut on (low-entropy sources are
    * boilerplate/spam). H = ln(n) − (Σ c·ln c)/n over the (source, word)
    * count table, which partial-aggregates to ≤ sources × vocab rows at
    * ANY corpus size. Each ln c is fixed to a 1e-6 integer ONCE per
    * distinct count (the [[corpusLmScore]] discipline) and the weighted
    * sum runs in DECIMAL(38,0), so the aggregation is order-independent;
    * the entropy itself is the only double expression — identical tree
    * in the oracle.
    */
  def corpusEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(wordTokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    counts.groupBy("source")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("decimal(18,0)") *
          floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
            .cast("decimal(18,0)")).as("s_fixed"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        roundTo(log(col("n_tokens").cast("double")) -
          col("s_fixed").cast("double") / (col("n_tokens").cast("double") * lit(1e6)), 4)
          .as("entropy_nats"),
        roundTo(col("n_types").cast("double") / col("n_tokens"), 4)
          .as("type_token_ratio"))
      .orderBy("source")
  }

  /** The first BPE merge iteration (the tokenizer-training inner loop):
    * adjacent within-word character-pair frequencies weighted by word
    * count, top-20. The pair explode runs over the DISTINCT-word table
    * (bounded by vocabulary, not corpus — the word-count aggregation is
    * the only corpus-scale pass), and the cut is a TakeOrdered. A full
    * BPE trainer is this query iterated with a merge applied per round.
    */
  def corpusBpeStep(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(wordTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
      .where(length(col("word")) >= 2)
      // guard BEFORE the explode: Spark's sequence(1, 0) yields a
      // DESCENDING [1, 0], not an empty array
      .select(col("word"), col("n_w"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("n_w"))
      .groupBy("pair").agg(sum("n_w").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** RAG/context chunking: 64-token chunks, stride 48 (16-token
    * overlap) — see [[operators.Corpus.chunk]].
    */
  def corpusChunk(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.chunk(Tables.documents(spark, dir), "doc_id", "text",
      chunkTokens = 64, strideTokens = 48)

  /** Test-set decontamination: train-split docs sharing a word 5-gram
    * with the held-out test split (broadcast eval-gram set).
    */
  def corpusDecontaminate(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.decontaminate(Tables.documents(spark, dir), "doc_id", "text")

  /** Top-3 tf·idf terms per document (exact-rational N/df idf). */
  def corpusTfidf(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.tfidf(Tables.documents(spark, dir), "doc_id", "text", k = 3)

  /** Bigram LM count table: top-3 continuations per context word. */
  def corpusBigramLm(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.bigramLm(Tables.documents(spark, dir), "text", k = 3)

  /** TextRank keyword ranking: 3 exact integer PageRank rounds over the
    * word co-occurrence graph, top-20 — see
    * [[operators.Corpus.textrank]].
    */
  def corpusTextrank(spark: SparkSession, dir: String): DataFrame =
    operators.Corpus.textrank(Tables.documents(spark, dir), "text", iters = 3, k = 20)

  /** Per-document mean bigram log-probability under the corpus's own
    * add-one bigram LM (the CCNet perplexity-filter analog) — see
    * [[operators.Corpus.lmScore]].
    */
  def corpusLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScored(spark, dir).orderBy("doc_id")

  /** The (doc_id, n_bigrams, lm_score) fluency table, written once per
    * corpus and shared by [[corpusLmScore]] and [[corpusCcnetBuckets]]
    * (the LM chain is the dominant cost of both).
    */
  private def lmScored(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "lmscore") {
      operators.Corpus.lmScore(Tables.documents(spark, dir), "doc_id", "text")
    }

  /** The composed end-to-end corpus pipeline in ONE query: cleaning
    * (language ∧ quality ∧ exact-dedup canonical) → deterministic
    * train/val/test split → per-split shard statistics (docs, BPE-ish
    * tokens, order-exact mean quality). What a user runs to cut
    * training shards; every stage is the already-verified operator, and
    * the split stays a map-side hash so adding it to the cleaned set is
    * join-free (both derive from doc_id).
    */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cleaned = operators.Corpus.clean(docs, "doc_id", "text")
      .select("doc_id", "score")
    val bucket = pmod(tokenHash60(concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
    val toks = docs.select(col("doc_id"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).as("n_bpe"))
    cleaned
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .join(toks, "doc_id")
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bpe").as("n_tokens"),
        roundTo(sum(round(col("score") * 10000).cast("long")) / (count(lit(1)) * 10000), 4).as("mean_score"))
      .orderBy("split")
  }

  /** Per-language corpus statistics (docs, tokens, mean quality). The
    * mean re-rounds each 4-dp score ×10⁴ back to an exact LONG before
    * summing (score×10⁴ alone is only within 1 ulp of the integer —
    * (k/10⁴)·10⁴ ≠ k in IEEE), so the parallel partial-agg sum is exact
    * in any order and the one final division matches DuckDB bit-for-bit.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langQuality(Tables.documents(spark, dir), "doc_id", "text")
      .withColumn("n_bpe_tokens",
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")))
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bpe_tokens").as("n_tokens"),
        roundTo(sum(round(col("score") * 10000).cast("long")) / (count(lit(1)) * 10000), 4).as("mean_score"))
      .orderBy("lang_pred")

  // =====================================================================
  // D. Multimodal (real P6/PPM codec over synthesized payloads)
  // =====================================================================

  /** The corpus as a binary media table AT REST: multi-frame P6
    * payloads synthesized from the documents (codegen'd expressions, no
    * UDF — [[operators.Multimodal.ppmPayload]]; spec in TESTDATA.md)
    * and MATERIALIZED once as a written-once parquet artifact. In a
    * real lake the media bytes ARE the stored input — the synthesis
    * exists only because the testdata ships no media files — so the
    * queries model the real shape: binary columns read from parquet,
    * decoded at read ([[operators.Multimodal.decode]]); they never pay
    * the generator. [[Artifacts]] lifecycle: corpus rewrite rebuilds,
    * restart adopts.
    */
  private def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val path = operators.Artifacts.resolve(spark, "ppm_media",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "ppm-v2 par")) { tmp =>
      // written in parallelism-many files (guide §6 output layout): the
      // decode consumers are partition-wise mapPartitions passes, and a
      // single-file artifact would cap every decode at ONE task — the
      // build pays this one spread so serving never shuffles payloads
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          operators.Multimodal.ppmPayload(col("text")).as("payload"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** The MIXED-format media table (spec av-v1): even doc_ids carry
    * multi-frame P6 raster payloads, odd doc_ids carry RIFF/WAVE 8-bit
    * PCM payloads — one binary column, two real codecs behind it, both
    * synthesized in-plan and materialized once like [[mediaTable]]. The
    * mixed table is what a real media lake looks like: format is a
    * property of the BYTES, not a partition.
    */
  private def avMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val path = operators.Artifacts.resolve(spark, "av_media",
      operators.Artifacts.corpusKey(dir),
      operators.Artifacts.fingerprint(spark, Seq(dir), spec = "av-v2 par")) { tmp =>
      // parallel file layout at write — see [[mediaTable]]
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            operators.Multimodal.ppmPayload(col("text")))
            .otherwise(operators.Multimodal.wavPayload(col("text"))).as("payload"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** Mixed-format media metadata — every row routed BY ITS OWN MAGIC
    * BYTES to its codec in one partition-wise pass (P6 → the raster
    * parser, RIFF → the LE chunk parser; [[operators.Multimodal
    * .decodeAny]]): the proof the decode seam is codec-agnostic, not
    * P6-shaped. n_units is frames for rasters, samples for audio;
    * width/height vs sample_rate are each format's own parsed fields,
    * zeroed for the other. Oracle predicts both formats' fields from
    * their spec arithmetic — a misrouted row or a misparsed LE chunk
    * size goes hash-red.
    */
  def multimodalMixedMeta(spark: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decodeAuto(avMediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("format"), col("n_bytes"), col("n_units"),
        col("width"), col("height"), col("sample_rate"))
      .orderBy("doc_id")

  /** CROSS-format similarity — the unified-feature claim made a keyed
    * row: both codecs emit the SAME 8-bin byte-histogram space, so one
    * exact k-NN runs over the MIXED table's decoded features (raster
    * and audio rows compete in one ranking — the "embed anything, search
    * everything" shape of a multimodal lake). The probe is doc 7's own
    * payload (odd id ⇒ WAV), encoded and decoded driver-side like a
    * request. Oracle re-derives both formats' features independently
    * (pixel bytes + final-frame padding for rasters, raw sample bytes
    * for audio) and runs the same exact-kNN shape.
    */
  def multimodalMixedEmbed(spark: SparkSession, dir: String): DataFrame = {
    val feats = operators.Multimodal.decodeAuto(avMediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("features"))
    val probeText = Tables.documents(spark, dir).where(col("doc_id") === 7L)
      .select("text").first().getString(0)
    val probe = operators.Multimodal.decodeWav(7L,
      operators.Multimodal.wavPayloadBytes(probeText.getBytes("UTF-8"))).features
    Knn.searchExact(feats, "doc_id", "features", probe, k = 10, metric = "l2")
  }

  /** The decode → embed leg shared by [[multimodalEmbed]] and the
    * hybrid queries: payloads decode partition-wise through the REAL
    * P6 parser to an 8-bin pixel-byte histogram sketch.
    */
  private def mediaFeats(spark: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decode(mediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("features"))

  /** Doc 7's sketch decoded identically DRIVER-side (a request-supplied
    * probe in a serving flow): encode the text with the same spec, run
    * the same parser.
    */
  private def mediaProbe(spark: SparkSession, dir: String): Array[Float] = {
    val probeText = Tables.documents(spark, dir).where(col("doc_id") === 7L)
      .select("text").first().getString(0)
    operators.Multimodal.decodePpm(7L,
      operators.Multimodal.ppmPayloadBytes(probeText.getBytes("UTF-8"))).features
  }

  /** Binary media metadata — PARSED from the payload bytes by the real
    * codec (magic / width / height / maxval per frame, frame stream
    * walked to EOF), never trusted from a sidecar: n_bytes is the
    * payload's own length, width/height/n_frames are the parser's. The
    * content digest keys the SOURCE bytes (what dedup/lineage wants).
    * Oracle re-derives every field from the payload spec's arithmetic —
    * a misparsed header goes hash-red.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decode(mediaTable(spark, dir)).toDF()
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), md5(encode(col("text"), "utf-8")).as("digest")), "doc_id")
      .select(col("doc_id"), col("n_bytes"), col("digest"),
        col("width"), col("height"), col("n_frames"))
      .orderBy("doc_id")

  /** Media storage accounting per source — assets, payload bytes,
    * PARSED frame counts and bytes-per-frame: the capacity-plan rollup
    * a media lake reads before choosing codecs/tiering. Decode is one
    * partition-wise pass; the rollup is a sources-bounded agg; the only
    * double is the final bytes-per-frame division.
    */
  def multimodalBitrate(spark: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decode(mediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("n_bytes").cast("long").as("nb"),
        col("n_frames").cast("long").as("nf"))
      .join(Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_assets"),
        sum("nb").as("n_bytes"), sum("nf").as("n_frames"))
      .select(col("source"), col("n_assets"), col("n_bytes"), col("n_frames"),
        roundTo(col("n_bytes").cast("double") / col("n_frames").cast("double"), 2)
          .as("bytes_per_frame"))
      .orderBy("source")

  /** Frame-extraction plumbing: each payload's frame stream PARSES into
    * per-frame rows ([[operators.Multimodal.decodeFrames]] — the explode
    * shape of a video pipeline): offset in the decoded pixel stream,
    * raster size, live (non-padding) bytes, and the md5 fingerprint of
    * the live bytes. Frames-per-asset is bounded by the max payload
    * size, so the explode is linear and the oracle predicts every field
    * from the spec arithmetic.
    */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decodeFrames(mediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("frame_idx"), col("frame_off"),
        col("frame_len"), col("n_live"), col("frame_digest"))
      .orderBy("doc_id", "frame_idx")

  /** Scene-cut detection over the PARSED frame stream (the video
    * shot-boundary shape): each frame's 1-D "ink" feature (non-space
    * live pixel bytes — the luminance stand-in) comes from the codec,
    * and a cut fires where the feature jumps ≥ 4 vs the previous frame.
    * The lag window partitions by asset and every partition is bounded
    * by frames-per-asset, so the whole operator is partition-wise
    * decode + bounded window + partial agg.
    */
  def multimodalSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val frames = operators.Multimodal.decodeFrames(mediaTable(spark, dir)).toDF()
    val byDoc = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("prev", lag("ink", 1).over(byDoc))
      .withColumn("cut",
        (col("prev").isNotNull && abs(col("ink") - col("prev")) >= 4).cast("int"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_frames"),
        count(when(col("cut") === 1, 1)).as("n_cuts"),
        min(when(col("cut") === 1, col("frame_idx"))).as("first_cut"))
      .orderBy("doc_id")
  }

  /** Multimodal near-duplicate pairs by shared frame fingerprints: two
    * media items are near-dups when ≥ 2 of their sampled-frame digests
    * coincide (ubiquitous frames, digest df > 20, dropped — intro/outro
    * boilerplate). The video-dedup shape: frames come from the same
    * stride sampling as [[multimodalFrames]], the pair join ships only
    * narrow (digest, id) posting rows with df-bounded lists — the
    * frame-level twin of [[dedupWinnow]]'s text postings.
    */
  def multimodalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val frames = multimodalFrames(spark, dir)
      .select(col("doc_id"), col("frame_digest").as("fd"))
      .distinct()
    val kept = frames.groupBy("fd").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= 20)
      .select("fd")
    val filtered = frames.join(kept, "fd")
    filtered.select(col("fd"), col("doc_id").as("a_id"))
      .join(filtered.select(col("fd"), col("doc_id").as("b_id")), Seq("fd"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy("a_id", "b_id")
  }

  /** The multimodal → vector bridge: payloads decode partition-wise
    * ([[operators.Multimodal.decode]] — the mapInPandas-shaped path,
    * now running the REAL P6 parser over real bytes) to an 8-dim
    * pixel-histogram sketch, and the sketches feed the exact k-NN
    * operator directly — the "embed then search" flow a real multimodal
    * pipeline runs. The probe is doc 7's own sketch, encoded and
    * decoded identically driver-side (a request-supplied vector in a
    * serving flow).
    */
  def multimodalEmbed(spark: SparkSession, dir: String): DataFrame =
    Knn.searchExact(mediaFeats(spark, dir), "doc_id", "features",
      mediaProbe(spark, dir), k = 10, metric = "l2")

  // =====================================================================
  // E. Analytics / events
  // =====================================================================

  /** TPC-H Q1 pricing summary — partial-aggregation heavy. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit(Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        roundTo(sum("l_quantity"), 2).as("sum_qty"),
        roundTo(sum("l_extendedprice"), 2).as("sum_base_price"),
        roundTo(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        roundTo(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        roundTo(avg("l_quantity"), 4).as("avg_qty"),
        roundTo(avg("l_extendedprice"), 4).as("avg_price"),
        roundTo(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 shipping priority — broadcast dim join + agg + top-n.
    * Ordering uses the *rounded* revenue so Spark's parallel double
    * summation and DuckDB's sequential one agree on the sort key.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).where(col("o_orderdate") < lit(ts19980101))
    val li = Tables.lineitem(spark, dir).where(col("l_shipdate") > lit(ts19980101))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(roundTo(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .select(
        col("l_orderkey"),
        col("revenue"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style 6-table join: revenue by nation within a region. */
  def q5Local(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("o_orderdate") < lit(Timestamp.valueOf("1999-01-01 00:00:00")))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
                             col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(roundTo(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10-style returned-item revenue: which customers returned
    * the most in a quarter. Nation broadcasts; customer joins by key
    * (unfiltered — at warehouse scale it is NOT broadcastable, so the
    * plan must stay a keyed shuffle join under AQE); ordering uses the
    * rounded revenue so both engines agree on the sort key.
    */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).where(col("l_returnflag") === "R")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("o_orderdate") < lit(Timestamp.valueOf("1996-04-01 00:00:00")))
    val cust = Tables.customer(spark, dir)
    val nation = Tables.nation(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(roundTo(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .select(col("c_custkey"), col("c_name"),
        roundTo(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q6 forecasting-revenue-change: a pure filter + single-row
    * aggregate. The point at scale is the plan: every predicate
    * (shipdate range, discount band, quantity cap) reaches the parquet
    * scan as a pushed filter over row-group min/max stats, and only two
    * columns survive pruning — the query reads a fraction of the table
    * before a single partial-agg row per partition ships.
    */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("l_shipdate") < lit(Timestamp.valueOf("1997-01-01 00:00:00")) &&
             col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
             col("l_quantity") < 24)
      // price and discount are 2-dp decimals: fix both to integer
      // hundredths, so the summed revenue is an exact long in 1e-4
      // dollar units — order-independent at any parallelism — then
      // half-up round to cents in integer space (no float .5 edge).
      .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
               floor(col("l_discount") * 100 + lit(0.5)).cast("long")).as("u4"))
      .select((expr("(u4 + 50) div 100") / 100.0).as("revenue"))

  /** HyperLogLog daily-active-user-days per event type, next to the
    * exact distinct count — see [[operators.Sketch.hllDistinct]]. The
    * sketch state is a (type, register) max-aggregation: ≤ 256 rows per
    * type at ANY input size, vs the full (type, user, day) shuffle of
    * the exact leg it replaces at scale.
    */
  def eventsHll(spark: SparkSession, dir: String): DataFrame =
    operators.Sketch.hllDistinct(
      Tables.events(spark, dir),
      keyCol = "event_type",
      item = concat(col("user_id").cast("string"), lit(":"),
        date_format(col("ts"), "yyyy-MM-dd")))

  /** Single-scan profile of lineitem's four numeric measure columns —
    * see [[operators.Stats.profileNumeric]]. Plan-guarded: one scan,
    * partial agg, per-column rows unpivoted from ONE agg row.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    operators.Stats.profileNumeric(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Count-Min Sketch per-user event frequencies next to the exact
    * counts — the point-frequency member of the sketch suite (HLL =
    * distinct, Bloom = membership, Misra–Gries = heavy hitters,
    * histogram = quantiles): d=4 × w=256 integer counters, probed for
    * the deterministic ~1% user sample (user_id ≡ 0 mod 23). Estimates
    * are one-sided (est ≥ exact, collisions only inflate); see
    * [[operators.Sketch.cmsFrequency]].
    */
  def eventsCms(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"))
    operators.Sketch.cmsFrequency(ev, "user_id",
        ev.where(pmod(col("user_id"), lit(23L)) === 0), "user_id", d = 4, w = 256)
      .withColumnRenamed("k", "user_id")
  }

  /** Bloom-filter membership gate: did this viewer ever make a
    * high-value (> 200) purchase? Filter built over those purchasers,
    * probed by every view user — see [[operators.Sketch.bloomGate]].
    * False positives are visible rows (bloom_positive ∧ ¬is_member);
    * false negatives are impossible and property-tested.
    */
  def eventsBloom(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    operators.Sketch.bloomGate(
      ev.where(col("event_type") === "purchase" && col("value") > 200)
        .select("user_id"), "user_id",
      ev.where(col("event_type") === "view").select("user_id"), "user_id",
      mBits = 1 << 12, kHashes = 3)
  }

  /** Fixed-size stratified sample: exactly min(n, 50) events per
    * event_type, chosen by deterministic hash rank (NOT by time or
    * value — the hash decorrelates the sample from every attribute).
    * Complements rate-based [[corpusSample]]: rates give proportions,
    * this gives a hard per-stratum budget (the eval-set shape).
    * The cut is [[operators.TopKStrat]]'s bounded-heap partial
    * aggregation — shuffle volume O(strata × 50) at ANY input size. A
    * row_number window here would sort every stratum end-to-end: with 5
    * event types that is a full sort of the table at 100 TB.
    */
  def eventsStratified(spark: SparkSession, dir: String): DataFrame = {
    val h = tokenHash60(concat(lit("strat:"), col("event_id").cast("string")))
    operators.Stats.stratifiedSample(
        Tables.events(spark, dir), "event_type", "event_id", "user_id", h, k = 50)
      .select(col("stratum").as("event_type"), col("pick"),
        col("id").as("event_id"), col("payload").as("user_id"))
      .orderBy("event_type", "pick")
  }

  /** Equi-width histogram sketch of `value` per event type, with the
    * bin-estimated median NEXT TO the exact rank-selected median — the
    * fixed-memory quantile-sketch artifact (t-digest/KLL's job) in
    * deterministic form: bins are exact integer buckets of the
    * 1e-4-fixed value (width 10.0), the estimate is the midpoint of the
    * first bin whose cumulative count reaches ⌈n/2⌉. Bin state is
    * ≤ range/width rows per type at ANY input size (the sketch
    * promise); the exact leg is what it replaces at scale.
    */
  def eventsHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("event_id"),
      floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
    // floor division (matches DuckDB //) even for negative v4
    val bins = ev.withColumn("bin", expr("(v4 - pmod(v4, 100000L)) div 100000"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy("event_type").orderBy("bin")
    val tot = Window.partitionBy("event_type")
    val est = bins
      .withColumn("cum", sum("c").over(wcum))
      .withColumn("n", sum("c").over(tot))
      .withColumn("nb", count(lit(1)).over(tot))
      .where(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type")
      .agg(max("n").as("n_events"), max("nb").as("n_bins"), min("bin").as("p50_bin"))
      .select(col("event_type"), col("n_events"), col("n_bins"),
        (col("p50_bin") * 10.0 + 5.0).as("p50_est"))
    val wrank = Window.partitionBy("event_type").orderBy("v4", "event_id")
    val exact = ev
      .withColumn("rn", row_number().over(wrank))
      .withColumn("n", count(lit(1)).over(tot))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), roundTo(col("v4") / 10000.0, 4).as("p50_exact"))
    est.join(exact, "event_type")
      .select("event_type", "n_events", "n_bins", "p50_exact", "p50_est")
      .orderBy("event_type")
  }

  /** Hopping (sliding) windows: 1-hour windows advancing every 15 min —
    * each event lands in exactly 4 windows via a map-side explode of its
    * window slots (no self-join, no range join); aggregates are exact
    * 1e-4-unit long sums like [[eventsRollup]]. The overlap factor is
    * the only cost multiplier, so the plan scales like the tumbling
    * twin × window/hop.
    */
  def eventsHopping(spark: SparkSession, dir: String): DataFrame = {
    val hopUs = 15L * 60 * 1000000
    Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("t_us"),
        floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
      .select(col("event_type"), col("v4"), expr(s"(t_us - pmod(t_us, ${hopUs}L)) div $hopUs").as("slot"),
        explode(sequence(lit(0), lit(3))).as("back"))
      .withColumn("win_start", (col("slot") - col("back")) * hopUs)
      .groupBy("win_start", "event_type")
      .agg(count(lit(1)).as("n"), sum("v4").as("sum_v4"))
      .orderBy("win_start", "event_type")
  }

  /** Time-series resampling with forward fill — the gap-fill primitive
    * (pandas `resample().ffill()` / SQL gap-fill): events collapse to a
    * 1-hour grid; empty slots carry the last observed CLOSE value
    * forward. Per-slot close = the latest event's value via one
    * deterministic lexicographic struct-max (no per-slot sort); the
    * grid's cardinality is bounded by the TIME SPAN (slots × types),
    * not the data size — like histogram bins, the per-type fill window
    * runs over bounded grid rows after the partial agg, so the plan
    * survives any event volume. Exact 1e-4-unit integer values
    * throughout.
    */
  def eventsResample(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("t_us"), col("event_id"),
        floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
      .withColumn("slot", expr(s"(t_us - pmod(t_us, ${hourUs}L)) div $hourUs"))
    val obs = ev.groupBy("event_type", "slot")
      .agg(count(lit(1)).as("n_obs"),
        max(struct(col("t_us"), col("event_id"), col("v4"))).getField("v4").as("close_v4"))
    val bounds = ev.agg(min("slot").as("lo"), max("slot").as("hi"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("slot"))
    val w = Window.partitionBy("event_type").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(obs, Seq("event_type", "slot"), "left")
      .select(col("event_type"), (col("slot") * hourUs).as("win_start"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        last(col("close_v4"), ignoreNulls = true).over(w).as("fill_v4"))
      .orderBy("event_type", "win_start")
  }

  /** Incremental view maintenance: the materialized hourly aggregate
    * (over 90% of the stream) merged with a new micro-batch's partial
    * aggregate (the other 10%) by RE-AGGREGATING THE PARTIALS — counts
    * and exact long sums are commutative monoids, so the merge never
    * rescans the base data. The oracle is the plain full aggregation:
    * the gate proves merge(partial, delta) ≡ recompute, which is the
    * contract a 100 TB rolling view relies on (per-batch cost ∝ batch,
    * not history).
    */
  def eventsWindowedMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("ts"), col("event_type"), col("event_id"),
      floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
    def hourly(df: DataFrame): DataFrame = df
      .groupBy(unix_timestamp(date_trunc("HOUR", col("ts"))).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("v4").as("sum_v4"))
    val view = hourly(ev.where(col("event_id") % 10 =!= 0)) // the standing view
    val delta = hourly(ev.where(col("event_id") % 10 === 0)) // the arriving batch
    view.unionAll(delta)
      .groupBy("hour_start", "event_type")
      .agg(sum("n").as("n"), sum("sum_v4").as("sum_v4"))
      .orderBy("hour_start", "event_type")
  }

  /** User-journey Markov transitions: counts and MLE probabilities of
    * (previous event type → next event type) steps per user timeline.
    * One user-keyed window (lag) + one partial-agg count shuffle; the
    * probability is a single long/long division like the bigram LM's
    * MLE, so it is engine-exact.
    */
  def eventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum("n").over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("next_type"), col("n"),
        roundTo(col("n") / col("n_from"), 4).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** ABC / Pareto analysis of supplier revenue concentration (the
    * 80/95 cumulative-share classification): the corpus-scale pass is
    * ONE per-supplier revenue aggregation in exact 1e-4-dollar longs;
    * the rank/cumsum window runs over the SUPPLIER dimension (bounded),
    * class thresholds compare in integers (cum·100 ≤ tot·80), and the
    * report is one partial-aggregated rollup per class.
    */
  def ordersPareto(spark: SparkSession, dir: String): DataFrame = {
    val u4 = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long"))
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), u4.as("u4"))
      .groupBy("l_suppkey").agg(sum("u4").as("rev"))
    // cardinality bound: window input is one row per supplier (dimension
    // table cardinality, post-agg), never lineitem rows
    val byRev = Window.orderBy(col("rev").desc, col("l_suppkey"))
    rev
      .withColumn("cum", sum("rev").over(
        byRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // the grand total rides the SAME sorted supplier-bounded window —
      // no second lineitem aggregation
      .withColumn("tot", sum("rev").over(
        byRev.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_suppliers"), sum("rev").as("rev_u4"),
        max("tot").as("tot"))
      .select(col("abc_class"), col("n_suppliers"),
        (expr("(rev_u4 + 50) div 100") / 100.0).as("revenue"),
        roundTo(col("rev_u4").cast("double") / col("tot"), 4).as("share"))
      .orderBy("abc_class")
  }

  /** Daily new-vs-returning user split (the standard growth-accounting
    * report): a user's first-seen day comes from one user-keyed min
    * aggregation; each active (user, day) then classifies map-side
    * against it (same user_id shuffle family), and the report is a
    * per-day conditional count — integer day math throughout.
    */
  def eventsNewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(first, "user_id")
      .groupBy("day")
      .agg(
        count(when(col("day") === col("first_day"), 1)).as("n_new"),
        count(when(col("day") =!= col("first_day"), 1)).as("n_returning"))
      .orderBy("day")
  }

  /** Month-over-month revenue growth: monthly revenue in exact
    * 1e-4-dollar longs (ONE corpus-scale aggregation; the month grid is
    * time-span-bounded), lag window over the grid, growth = one double
    * division of exact longs.
    */
  def lineitemMonthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val u4 = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long"))
    val monthly = Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"), u4.as("u4"))
      .groupBy("month").agg(sum("u4").as("rev_u4"))
    val byMonth = Window.orderBy("month") // month grid: span-bounded
    monthly
      .withColumn("prev_u4", lag("rev_u4", 1).over(byMonth))
      .select(col("month"),
        (expr("(rev_u4 + 50) div 100") / 100.0).as("revenue"),
        when(col("prev_u4").isNotNull,
          roundTo((col("rev_u4") - col("prev_u4")).cast("double") * 100.0 /
            col("prev_u4"), 4)).as("growth_pct"))
      .orderBy("month")
  }

  /** The dedup threshold tuning curve: candidate-pair volume at
    * similarity cuts 0.25 / 0.4 / 0.6 / 0.8 from ONE minhash pass —
    * what the 0.25-threshold pair table already contains, rolled into
    * the knob-sweep artifact (the dedup twin of the nprobe / radius /
    * rerank curves). Zero extra corpus work beyond [[dedupMinhash]].
    */
  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupIdx(spark, dir).minhashPairs(minEst = 0.25)
    pairs.agg(
      count(lit(1)).as("n_025"),
      count(when(col("est_sim") >= 0.4, 1)).as("n_040"),
      count(when(col("est_sim") >= 0.6, 1)).as("n_060"),
      count(when(col("est_sim") >= 0.8, 1)).as("n_080"))
  }

  /** Inter-event gap percentiles per event type (engagement-cadence
    * profile): gap = seconds since the user's previous event (one lag
    * window on the user_id shuffle), then EXACT rank selection over the
    * (type, gap) VALUE distribution — the [[corpusQuantiles]]
    * discipline; the cumulative window spans distinct gap values,
    * bounded by the time span in seconds, never a per-type sort of the
    * event stream.
    */
  def eventsGapStats(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .withColumn("prev_t", lag("t", 1).over(byUser))
      .where(col("prev_t").isNotNull)
      .select(col("event_type"), expr("(t - prev_t) div 1000000").as("gap_s"))
    val counts = gaps.groupBy("event_type", "gap_s").agg(count(lit(1)).as("c"))
    val byGap = Window.partitionBy("event_type").orderBy("gap_s")
    val perType = Window.partitionBy("event_type")
    def pos(q: Int): Column = expr(s"(n * $q + 99) div 100")
    counts
      .withColumn("cum", sum("c").over(byGap))
      .withColumn("n", sum("c").over(perType))
      .groupBy("event_type")
      .agg(max("n").as("n_gaps"),
        min(when(col("cum") >= pos(50), col("gap_s"))).as("p50_s"),
        min(when(col("cum") >= pos(90), col("gap_s"))).as("p90_s"),
        min(when(col("cum") >= pos(99), col("gap_s"))).as("p99_s"))
      .orderBy("event_type")
  }

  /** Lag-k autocorrelation of the hourly event-count series (k = 1, 2,
    * 3, 6, 12, 24) — the seasonality diagnostic behind forecasting and
    * anomaly baselines. The corpus-scale pass is ONE hourly count
    * aggregation; everything after runs on the grid, whose size is
    * bounded by the TIME SPAN (720 rows/month at any data volume): a
    * lag window per k over the dense grid (missing hours = 0 via a
    * generated spine), then Pearson from exact HUGEINT-style moments
    * ([[tableCorr]] discipline) with doubles only in the final r_k.
    */
  def eventsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // the grid is time-span-bounded — checkpoint it so the bounds agg
    // and the spine join read the tiny table, not a second events scan
    val hourly = Tables.events(spark, dir)
      .select(expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bounds = hourly.agg(min("h").as("h0"), max("h").as("h1"))
    val spine = bounds.select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val grid = spine.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val byTime = Window.orderBy("h") // grid is time-span-bounded, single partition is fine
    val lags = Seq(1, 2, 3, 6, 12, 24)
    val lagged = lags.foldLeft(grid) { (df, k) =>
      df.withColumn(s"c_$k", lag("c", k).over(byTime))
    }
    val pairs = lags.map { k =>
      lagged.where(col(s"c_$k").isNotNull)
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("c"))).as("sx"), sum(dec(col(s"c_$k"))).as("sy"),
          sum(dec(col("c")) * dec(col("c"))).as("sxx"),
          sum(dec(col(s"c_$k")) * dec(col(s"c_$k"))).as("syy"),
          sum(dec(col("c")) * dec(col(s"c_$k"))).as("sxy"))
        .select(lit(k).as("lag_h"), col("n"),
          roundTo((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double") *
              (dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")), 4)
            .as("r"))
    }
    pairs.reduce(_ unionByName _).orderBy("lag_h")
  }

  /** k-anonymity audit of the quasi-identifier combination
    * (mktsegment, nation, acctbal rounded to $1000) — the
    * re-identification risk report a privacy review runs before data
    * leaves the house: how many QI groups are smaller than k = 5, and
    * what fraction of customers sit in them. One partial-aggregated
    * group-by (state bounded by the QI domain) + one conditional
    * rollup.
    */
  def customerKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val qi = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("cast(floor(c_acctbal / 1000.0) as long)").as("bal_k"))
      .groupBy("c_mktsegment", "c_nationkey", "bal_k")
      .agg(count(lit(1)).as("g"))
    qi.agg(
      count(lit(1)).as("n_groups"),
      count(when(col("g") < k, 1)).as("n_small_groups"),
      sum("g").as("n_customers"),
      sum(when(col("g") < k, col("g")).otherwise(lit(0L))).as("n_at_risk"))
      .select(col("n_groups"), col("n_small_groups"), col("n_customers"),
        col("n_at_risk"),
        roundTo(col("n_at_risk").cast("double") / col("n_customers"), 4)
          .as("at_risk_frac"))
  }

  /** Referential-integrity audit across the star schema's four foreign
    * keys — the data-quality gate a warehouse load runs: orphan counts
    * per relationship via LeftAnti against the (broadcast where small)
    * parent key set. Each check is one scan + one anti join; the
    * orders→customer / lineitem→{orders, part, supplier} edges cover
    * every FK in the schema.
    */
  def tableFkCheck(spark: SparkSession, dir: String): DataFrame = {
    def orphans(name: String, child: DataFrame, fk: String,
                parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(pk))
      val pp = if (bcast) broadcast(p) else p
      // NULL FKs are pinned non-orphans on BOTH sides: left_anti would
      // count them while the oracle's NOT IN silently drops every row
      // once any parent key is NULL — make the semantics explicit here
      // and in the oracle (fk IS NOT NULL AND fk NOT IN (...)).
      child.select(col(fk))
        .where(col(fk).isNotNull)
        .join(pp, col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir)
    Seq(
      orphans("orders->customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey", bcast = true),
      orphans("lineitem->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey", bcast = false),
      orphans("lineitem->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey", bcast = true),
      orphans("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey", bcast = true))
      .reduce(_ unionByName _)
      .orderBy("relationship")
  }

  /** Stationary distribution of the user-journey Markov chain
    * ([[eventsMarkov]]'s matrix) by three power-iteration rounds in
    * EXACT fixed-point integers (the [[corpusTextrank]] discipline:
    * contribution = ⌊v·n / n_from⌋, so the trajectory is
    * engine-reproducible and the oracle unrolls it identically). The
    * transition matrix is a BOUNDED types² table (25 rows here — the
    * one corpus-scale pass is the lag + count that builds it), so each
    * iteration is a tiny join + agg with constant plan size; no
    * driver-side collect anywhere.
    */
  def eventsMarkovSteady(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .where(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum("n").over(Window.partitionBy("prev")))
    var pi = trans.select(col("prev").as("state")).distinct()
      .withColumn("v", lit(200000L)) // 1e6 mass over the 5 states
    for (_ <- 1 to 3)
      pi = trans.join(pi, col("prev") === col("state"))
        .select(col("next"), expr("v * n div n_from").as("c"))
        .groupBy(col("next").as("state")).agg(sum("c").as("v"))
    pi.select(col("state"), col("v").as("pi6"),
        roundTo(col("v").cast("double") / lit(1e6), 4).as("p"))
      .orderBy("state")
  }

  /** TPC-H Q14-style promotion revenue share: what fraction of one
    * month's revenue came from ECONOMY-type parts. Part is the
    * broadcast dim; the month filter pushes to the lineitem scan; the
    * output is one ratio of two aggregates computed in a single pass
    * (conditional sum over the same joined rows).
    */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit(Timestamp.valueOf("1996-03-01 00:00:00")) &&
             col("l_shipdate") < lit(Timestamp.valueOf("1996-04-01 00:00:00")))
    val part = Tables.part(spark, dir)
    // Same integer-cents fixing as q6: revenue terms become exact longs
    // in 1e-4 dollar units (price_cents × (100 - discount_cents)), so
    // both sums are order-independent; cents rounding is integer
    // half-up and the pct ratio is one double division of two exact
    // longs, written identically in the oracle.
    val u4 = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
             (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "ECONOMY", u4).otherwise(lit(0L))).as("promo_u4"),
        sum(u4).as("total_u4"))
      .select(
        (expr("(promo_u4 + 50) div 100") / 100.0).as("promo_revenue"),
        (expr("(total_u4 + 50) div 100") / 100.0).as("total_revenue"),
        roundTo(lit(100.0) * col("promo_u4") / col("total_u4"), 4).as("promo_pct"))
  }

  /** TPC-H Q18-style large-volume orders: the aggregate-filtered
    * semi-join shape — a HAVING over the fact table's own aggregation
    * gates which orders survive, then dims join on. l_quantity is
    * integer-valued, so the parallel double sum is EXACT (machine
    * integers) and the > 150 cut can't knife-edge.
    */
  def q18Large(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .where(col("sum_qty") > 150)
    Tables.orders(spark, dir).join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"),
        roundTo(col("o_totalprice"), 2).as("o_totalprice"),
        roundTo(col("sum_qty"), 2).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Discounted revenue in exact 1e-4-dollar integer units — the q6/q14
    * idiom: price and discount are 2-dp decimals, fixed to integer
    * hundredths so parallel sums are order-independent longs.
    */
  private def revenueU4: Column =
    floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long"))

  /** Exact-long 1e-4 units → dollars: integer half-up to cents via
    * integral `div`, then one double division by 100 — bit-identical to
    * the oracle's `((u4 + 50) // 100) / 100.0` (nonnegative sums only;
    * `div` truncates where `//` floors).
    */
  private def u4ToDollars(u4Col: String): Column =
    // the div stays inside expr (integral divide); the final division is
    // the SCALA double operator — inside expr, `100.0` would parse as a
    // SQL DECIMAL literal and the whole column would come out DECIMAL
    // where the oracle emits DOUBLE (the r3 events_histogram hash trap)
    expr(s"($u4Col + 50) div 100") / 100.0

  /** TPC-H Q4-style priority check, adapted to this schema (no
    * commit/receipt dates): an order counts when ANY line item shipped
    * more than 60 days after the order date — an EXISTS that plans as a
    * left-semi join on the order key with the lag predicate as the
    * join residual. At scale the semi join shuffles both sides once on
    * l_orderkey/o_orderkey and keeps no lineitem payload.
    */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("o_orderdate") < lit(Timestamp.valueOf("1996-04-01 00:00:00")))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    ord.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), "leftsemi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q7 volume shipping: bidirectional trade flow between two
    * nations by ship year. The two-row nation dims are pre-filtered to
    * the pair and broadcast; the pair-direction disjunction applies
    * after both broadcasts (it couples the two sides, so it cannot push
    * below either join). Fact-fact joins shuffle on their natural keys.
    */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(spark, dir).where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("l_shipdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
             (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(sum(revenueU4).as("u4"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        u4ToDollars("u4").as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 market share: one nation's supplier share of ASIA-region
    * ECONOMY-part revenue per order year. The share is ONE double
    * division of two exact long sums (q14's promo_pct discipline) — a
    * conditional aggregate, not a self-join.
    */
  def q8Share(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).where(col("p_type") === "ECONOMY").select("p_partkey")
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    Tables.lineitem(spark, dir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"), "leftsemi")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", revenueU4).otherwise(lit(0L))).as("nation_u4"),
        sum(revenueU4).as("total_u4"))
      .select(col("o_year"),
        u4ToDollars("nation_u4").as("nation_revenue"),
        u4ToDollars("total_u4").as("total_revenue"),
        roundTo(lit(1.0) * col("nation_u4") / col("total_u4"), 4).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q9-style product-type profit by supplier nation and year,
    * with p_retailprice standing in for the missing partsupp
    * supplycost. Profit can be negative, so the exact-long 1e-4 units
    * convert via unrounded double division (truncating `div` and
    * flooring `//` diverge below zero — the ADVICE floor-consistency
    * rule), not the cents-rounding idiom.
    */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).where(col("p_name").like("%red%"))
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long").as("retail_c2"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(revenueU4 - col("retail_c2") * lit(100L) * col("l_quantity").cast("long"))
        .as("profit_u4"))
      .select(col("nation"), col("o_year"),
        (col("profit_u4").cast("double") / 10000.0).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q13 customer order-count distribution: the outer-join-then-
    * double-aggregate shape — customers with zero qualifying orders
    * must survive into the c_count=0 bucket, which an inner join would
    * silently drop. Both aggregations are exact long counts.
    */
  def q13Distribution(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 top supplier: the aggregate-then-argmax shape. The
    * per-supplier revenue aggregates once; the scalar max comes from a
    * single-row broadcast joined back on exact-long equality (ties
    * surface as extra rows, same as the reference SQL's `= (SELECT
    * max ...)`), so no second scan and no window over the whole table.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("l_shipdate") < lit(Timestamp.valueOf("1996-04-01 00:00:00")))
      .groupBy("l_suppkey")
      .agg(sum(revenueU4).as("total_u4"))
    val maxRev = rev.agg(max("total_u4").as("max_u4"))
    Tables.supplier(spark, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(maxRev), col("total_u4") === col("max_u4"))
      .select(col("s_suppkey"), col("s_name"), u4ToDollars("total_u4").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 small-quantity-order revenue: the correlated-average
    * shape. The per-part average is a separate aggregation joined back
    * on the part key, and the `quantity < 0.2 * avg` cut is written in
    * integers (5·qty·cnt < sum_qty — quantities are integer-valued), so
    * the threshold cannot knife-edge. avg_yearly is one double division
    * of an exact cents long by the constant 700.
    */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pq_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_q"), count(lit(1)).as("cnt_q"))
    val brand = Tables.part(spark, dir).where(col("p_brand") === "Brand#3").select("p_partkey")
    Tables.lineitem(spark, dir)
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pq_partkey"))
      .where(col("l_quantity").cast("long") * lit(5L) * col("cnt_q") < col("sum_q"))
      .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")).as("c2"))
      .select((col("c2").cast("double") / 700.0).as("avg_yearly"))
  }

  /** TPC-H Q19 discounted revenue: three disjunctive brand/size/
    * quantity bands. The point at scale is predicate planning —
    * Catalyst's OR-factoring pushes the per-side envelopes of the
    * disjunction below the join (a brand/size disjunct to the part
    * scan, a quantity disjunct to the lineitem scan) even though no
    * single branch predicate spans one table. One exact-long sum out.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(spark, dir)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(revenueU4).as("u4"))
      .select(u4ToDollars("u4").as("revenue"))
  }

  /** TPC-H Q22-style global sales opportunity: above-average-balance
    * customers with no recent orders, bucketed by nation group (the
    * schema has no phone country code). Anti join against recent
    * orders; the global average threshold is a one-row broadcast and
    * the comparison is exact-integer (bal_cents · cnt > sum_cents).
    */
  def q22Global(spark: SparkSession, dir: String): DataFrame = {
    val balC2 = floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
    val cust = Tables.customer(spark, dir)
    val avgStats = cust.where(col("c_acctbal") > 0.0)
      .agg(sum(balC2).as("sum_c"), count(lit(1)).as("cnt_c"))
    val recent = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit(Timestamp.valueOf("1999-01-01 00:00:00")))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgStats))
      .where(balC2 * col("cnt_c") > col("sum_c"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).as("cntry_grp"))
      .agg(count(lit(1)).as("numcust"),
        (sum(balC2).cast("double") / 100.0).as("totacctbal"))
      .orderBy("cntry_grp")
  }

  /** TPC-H Q2 adapted (no partsupp: relationships from lineitem, min
    * supplycost → min account balance): for each STANDARD part sized
    * 10–20, the EUROPE supplier with the lowest (s_acctbal, s_suppkey).
    * Dims chain broadcast region→nation→supplier; the one corpus-scale
    * pass is the distinct (part, supp) projection of lineitem; argmin
    * is a struct-min partial aggregation, never a per-part sort.
    */
  def q2MinSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).where(col("r_name") === "EUROPE")
    val nation = Tables.nation(spark, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal")
    val parts = Tables.part(spark, dir)
      .where(col("p_type") === "STANDARD" && col("p_size").between(10, 20))
      .select("p_partkey")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_partkey")
      .agg(min(struct(col("s_acctbal"), col("s_suppkey"), col("s_name"))).as("m"))
      .select(col("p_partkey"), col("m.s_suppkey").as("s_suppkey"),
        col("m.s_name").as("s_name"), roundTo(col("m.s_acctbal"), 2).as("s_acctbal"))
      .orderBy("p_partkey")
  }

  /** TPC-H Q11 adapted (no partsupp: "stock value" = shipped
    * qty × price from lineitem, grouped by supplier nation): nations
    * holding more than 1/10 of global value. Per-row value fixes to
    * exact integer 1e-2-dollar·qty units summed in DECIMAL(38,0)
    * ([[tableCorr]] discipline — exact far past 2^53 at 100 TB); the
    * global total is a 1-row broadcast compared in exact integers
    * (value·10 > total), the [[q22Global]] threshold shape.
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_suppkey"),
      (col("l_quantity").cast("long") *
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
        .cast("decimal(38,0)").as("v"))
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val byNation = li
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(sum("v").as("v"))
    val total = byNation.agg(sum("v").as("tot"))
    byNation.crossJoin(broadcast(total))
      .where(col("v") * 10 > col("tot"))
      .select(col("n_name"), col("v").cast("long").as("value_c2q"))
      .orderBy(col("value_c2q").desc, col("n_name"))
  }

  /** TPC-H Q12 adapted (no ship mode / commit / receipt dates: "mode"
    * = ship-lag bucket, SLOW when the line shipped more than 60 days
    * after the order): per bucket, how many high- vs low-priority
    * orders rode it. Day math in integer epoch days; the orders side
    * of the keyed join carries only (key, priority); one conditional
    * aggregation.
    */
  def q12ShipLag(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("ship_day"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority"),
      expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("order_day"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_mode",
        when(col("ship_day") - col("order_day") > 60, "SLOW").otherwise("FAST"))
      .groupBy("ship_mode")
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("low_line_count"))
      .orderBy("ship_mode")
  }

  /** TPC-H Q20 adapted (no partsupp availability: "excess" = shipped
    * concentration — a supplier holding more than 1/6 of a part's
    * total shipped quantity): per EUROPE supplier, how many parts it
    * dominates. Both aggregates key on l_partkey (the per-(part, supp)
    * and per-part sums reuse one shuffle family); quantities are
    * integral doubles cast to exact longs, the 1/6 cut written in
    * integers (6·q_ps > q_p); dims broadcast.
    */
  def q20ExcessSupp(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity").cast("long").as("q"))
    val perPs = li.groupBy("l_partkey", "l_suppkey").agg(sum("q").as("q_ps"))
    val perP = li.groupBy("l_partkey").agg(sum("q").as("q_p"))
    val region = Tables.region(spark, dir).where(col("r_name") === "EUROPE")
    val nation = Tables.nation(spark, dir)
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name")
    perPs.join(perP, "l_partkey")
      .where(col("q_ps") * 6 > col("q_p"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_dominated_parts"))
      .orderBy(col("n_dominated_parts").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q16 adapted (no partsupp table): how many distinct suppliers
    * serve each surviving (brand, type, size) part segment, with the
    * part-supplier relationships taken from lineitem and Q16's
    * complaint-supplier exclusion mapped to the under-review
    * (negative-acctbal) suppliers. Shapes: the exclusion list is a tiny
    * broadcast LeftAnti, part is the broadcast dim with its predicates
    * pushed to the scan, and the distinct count is Spark's two-phase
    * (partial-distinct, merge) aggregation — no row set ever collects.
    */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val underReview = Tables.supplier(spark, dir)
      .where(col("s_acctbal") < 0).select("s_suppkey")
    val part = Tables.part(spark, dir)
      .where(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(underReview), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(20)
  }

  /** TPC-H Q21 adapted (no commit/receipt dates): suppliers who were
    * the SOLE bottleneck of multi-supplier orders — they alone shipped
    * on the order's latest ship date. The EXISTS/NOT-EXISTS pair of the
    * original becomes two aggregate gates on the same order key: the
    * per-order (n_supp, max_ship) profile joins back on l_orderkey (one
    * key shuffle reused), and "no other supplier also late" is a
    * count-of-late-suppliers = 1 filter — never a lineitem×lineitem
    * self-join pair blow-up.
    */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    // per-order profile via ONE l_orderkey window instead of agg +
    // self-join: orders are bounded (≤ 7 lines), so the partition-wide
    // max/collect_set state is constant per order and lineitem crosses
    // the wire once (measured 1.52 → 0.99 s at sf0.1)
    val perOrder = Window.partitionBy("l_orderkey")
    val lateSupp = li
      .withColumn("max_ship", max("l_shipdate").over(perOrder))
      .withColumn("n_supp", size(collect_set("l_suppkey").over(perOrder)))
      .where(col("n_supp") >= 2 && col("l_shipdate") === col("max_ship"))
      .select("l_orderkey", "l_suppkey").distinct()
    val solo = lateSupp.groupBy("l_orderkey").agg(count(lit(1)).as("n_late"))
      .where(col("n_late") === 1).select("l_orderkey")
    lateSupp.join(solo, "l_orderkey")
      .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  /** RFM customer segmentation (recency / frequency / monetary
    * quartiles — the classic CRM cube): per-customer metrics from ONE
    * orders aggregation, quartile thresholds by exact integer rank
    * selection over each metric's VALUE DISTRIBUTION (the
    * [[corpusQuantiles]] discipline — recency spans at most the time
    * range in days, frequency the max order count, monetary is bucketed
    * to 100-dollar units so every cumulative window is domain-bounded,
    * never a per-customer sort), thresholds broadcast back, and the
    * segment cube is one partial-aggregated group-by. Scores are
    * quartile indices (1–4, high recency = long-inactive).
    */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
    val cust = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(max(day).as("last_day"), count(lit(1)).as("freq"),
        sum(cents).as("cents"))
    val gmax = cust.agg(max("last_day").as("gmax"))
    val m = cust.crossJoin(broadcast(gmax))
      .select(col("o_custkey"), (col("gmax") - col("last_day")).as("recency"),
        col("freq"), col("cents"), expr("cents div 10000").as("money_h"))
    val counts = m
      .selectExpr("stack(3, 'r', recency, 'f', freq, 'm', money_h) as (metric, v)")
      .groupBy("metric", "v").agg(count(lit(1)).as("c"))
    val byMetric = Window.partitionBy("metric").orderBy("v")
    def pos(q: Int): Column = expr(s"(n * $q + 99) div 100")
    val th = counts
      .withColumn("cum", sum("c").over(byMetric))
      .withColumn("n", sum("c").over(Window.partitionBy("metric")))
      .groupBy("metric")
      .agg(min(when(col("cum") >= pos(25), col("v"))).as("p25"),
        min(when(col("cum") >= pos(50), col("v"))).as("p50"),
        min(when(col("cum") >= pos(75), col("v"))).as("p75"))
    val thRow = th.agg(
      max(when(col("metric") === "r", struct(col("p25"), col("p50"), col("p75")))).as("r"),
      max(when(col("metric") === "f", struct(col("p25"), col("p50"), col("p75")))).as("f"),
      max(when(col("metric") === "m", struct(col("p25"), col("p50"), col("p75")))).as("m"))
    def score(v: Column, t: Column): Column =
      lit(1) + (v > t("p25")).cast("int") + (v > t("p50")).cast("int") +
        (v > t("p75")).cast("int")
    m.crossJoin(broadcast(thRow))
      .select(score(col("recency"), col("r")).as("r_score"),
        score(col("freq"), col("f")).as("f_score"),
        score(col("money_h"), col("m")).as("m_score"),
        col("cents"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        roundTo(sum("cents").cast("double") / lit(100.0), 2).as("total_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Top principal direction of the embedding cloud by power iteration
    * — distributed PCA with an EXACT-reproducible trajectory. The
    * corpus-scale work is ONE [[graft.operators.GramMoments]] pass: each
    * row does its dim² fixed-point multiply-adds inside the aggregate
    * buffer (no dim² row explode — the row-generation CPU of the
    * relational formulation was ~64× this), and the shuffle is a single
    * dim²+dim+1 long buffer per partition. The covariance C = n·G − S·Sᵀ
    * is then formed driver-side in exact BigInt on that BOUNDED artifact
    * (4096 cells — the centroids/codebook convention), and three
    * power-iteration rounds run in fixed-point integers with
    * trunc-toward-zero renormalization, so the oracle unrolls the
    * identical integer trajectory from its own covariance. Output:
    * per-dim loading of the dominant eigenvector (1e-6 units).
    */
  def embeddingPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val emb = Tables.embeddings(spark, dir)
    val gram = udaf(new operators.GramMoments(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val m = emb.agg(gram(col("embedding")).as("m")).head.getSeq[Long](0)
    val n = BigInt(m(dim * dim + dim))
    def sD(d: Int) = BigInt(m(dim * dim + d))
    // covariance cells in exact BigInt: n·G − S·Sᵀ
    val cm = (for (d <- 0 until dim; e <- 0 until dim)
      yield (d, e) -> (n * BigInt(m(d * dim + e)) - sD(d) * sD(e))).toMap
    var v = Array.fill(dim)(BigInt(1000000))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dim) { d =>
        (0 until dim).map(e => cm.getOrElse((d, e), BigInt(0)) * v(e)).sum
      }
      val mx = w.map(_.abs).max
      v = w.map(x => x * 1000000 / mx) // BigInt / truncates toward zero
    }
    val sess = spark; import sess.implicits._
    v.zipWithIndex.map { case (x, d) => (d, x.toLong) }.toSeq
      .toDF("dim", "loading")
      .select(col("dim"), col("loading"),
        roundTo(col("loading").cast("double") / lit(1e6), 6).as("loading_frac"))
      .orderBy("dim")
  }

  /** Per-dimension profile of the embedding column — [[tableProfile]]
    * for vectors: n / mean / std / min / max per coordinate, the
    * artifact SQ8 bounds and normalization layers are fitted from. Each
    * float32 fixes to an exact 1e-6 integer (posexplode is the only
    * data-scale pass; the (dim, moment) state is 64 rows at ANY corpus
    * size), moment sums run in DECIMAL(38,0) ([[tableCorr]]'s int128
    * discipline — n·Q − S² stays exact far past 2^53), and doubles
    * appear only in the final mean/std expressions, mirrored in the
    * oracle.
    */
  /** Simplified (centroid-based) silhouette per cluster — the
    * cluster-quality eval that closes the loop on the IVF index's
    * KMeans fit, next to [[vectorCentroidDist]]'s separation
    * diagnostics: a(i) = distance to own centroid, b(i) = distance to
    * the nearest OTHER centroid, s = (b−a)/max(a,b). One broadcast of
    * the K-row centroid table, then the two nearest centroids per point
    * come from a [[graft.operators.TopKNeighbors]] bounded-heap partial
    * aggregation — the K per-point candidate rows are co-located by
    * construction, so the heap collapses them MAP-SIDE and the shuffle
    * carries one 2-entry buffer per point instead of the 16×-inflated
    * row set a window row_number would sort. Each s fixes to a 1e-6
    * integer before the per-cluster mean so the aggregation is
    * order-independent. The oracle re-derives everything from the
    * spliced centroid literals.
    */
  def vectorSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val s = spark; import s.implicits._
    val cents = centroids.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cid", "cv")
    val d = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        vecL2Sq(col("embedding"), col("cv")).as("d2"))
    // bounded heap keeps (dist, id)-min 2 per point; same tie-break as
    // the oracle's ORDER BY d2, cid
    val top2 = udaf(new operators.TopKNeighbors(2),
      org.apache.spark.sql.Encoders.product[operators.Neighbor])
    val per = d.groupBy("vec_id")
      .agg(top2(col("cid").cast("long"), col("d2")).as("nn"))
    val a = sqrt(element_at(col("nn"), 1).getField("dist"))
    val b = sqrt(element_at(col("nn"), 2).getField("dist"))
    per
      .select(element_at(col("nn"), 1).getField("id").cast("int").as("cid"),
        when(a === b, lit(0L))
          .otherwise(floor((b - a) / greatest(a, b) * lit(1e6) + lit(0.5)).cast("long"))
          .as("s6"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"),
        roundTo(sum("s6").cast("double") / (count(lit(1)) * lit(1e6)), 6)
          .as("mean_silhouette"))
      .orderBy("cid")
  }

  def vectorStats(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val xf = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long").as("xf"))
    xf.groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("xf"))).as("s"),
        sum(dec(col("xf")) * dec(col("xf"))).as("q"),
        min("xf").as("mn"), max("xf").as("mx"))
      .select(col("dim"), col("n"),
        roundTo(col("s").cast("double") / (col("n").cast("double") * lit(1e6)), 6)
          .as("mean"),
        roundTo(sqrt(
          (dec(col("n")) * col("q") - col("s") * col("s")).cast("double") /
            (col("n").cast("double") * col("n").cast("double") * lit(1e12))), 6)
          .as("std"),
        roundTo(col("mn").cast("double") / lit(1e6), 6).as("min_v"),
        roundTo(col("mx").cast("double") / lit(1e6), 6).as("max_v"))
      .orderBy("dim")
  }

  /** Pairwise Pearson correlation over lineitem's numeric columns — the
    * companion ANALYZE primitive to [[tableProfile]]: every moment
    * (n, Σx, Σx², Σxy) is an exact DECIMAL(38) sum of integer-fixed
    * units (quantity integral, price/discount in cents) gathered in ONE
    * scan + one 1-row partial aggregation; each correlation then comes
    * from the exact moments with double arithmetic only in the final
    * expression (written identically in the oracle). No row leaves the
    * scan stage — the shuffle is the 10-column single row.
    */
  def tableCorr(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").as("q"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("p"),
      floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("d"))
    val m = li.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("q"))).as("sq"), sum(dec(col("p"))).as("sp"), sum(dec(col("d"))).as("sd"),
      sum(dec(col("q")) * dec(col("q"))).as("sqq"),
      sum(dec(col("p")) * dec(col("p"))).as("spp"),
      sum(dec(col("d")) * dec(col("d"))).as("sdd"),
      sum(dec(col("q")) * dec(col("p"))).as("sqp"),
      sum(dec(col("q")) * dec(col("d"))).as("sqd"),
      sum(dec(col("p")) * dec(col("d"))).as("spd"))
    def corrOf(sxy: String, sx: String, sy: String, sxx: String, syy: String): Column = {
      val num = (col("n") * col(sxy) - col(sx) * col(sy)).cast("double")
      val vx = (col("n") * col(sxx) - col(sx) * col(sx)).cast("double")
      val vy = (col("n") * col(syy) - col(sy) * col(sy)).cast("double")
      roundTo(num / sqrt(vx * vy), 6)
    }
    m.select(col("n").cast("long").as("n"),
      corrOf("sqp", "sq", "sp", "sqq", "spp").as("corr_qty_price"),
      corrOf("sqd", "sq", "sd", "sqq", "sdd").as("corr_qty_disc"),
      corrOf("spd", "sp", "sd", "spp", "sdd").as("corr_price_disc"))
  }

  /** Quality-percentile corpus cut: keep documents at or above the 75th
    * percentile of the (4-dp-fixed) quality score. The threshold uses
    * the [[corpusQuantiles]] exact-rank idiom over the VALUE
    * DISTRIBUTION — the cumulative window spans ≤ 10⁴+1 distinct score
    * units regardless of corpus size — and broadcasts back as one row,
    * so the cut itself is a map-side integer comparison. The "top
    * quality quartile" selection every training-mixture pipeline runs.
    */
  def corpusQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.langQuality(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("score"),
        floor(col("score") * 10000.0 + lit(0.5)).cast("long").as("s4"))
    val counts = scored.groupBy("s4").agg(count(lit(1)).as("c"))
    // single-partition window is safe: rows = distinct score units ≤ 10001
    val cum = counts
      .withColumn("cum", sum("c").over(Window.orderBy("s4")))
      .withColumn("n_docs", sum("c").over(Window.partitionBy(lit(1))))
    val thresh = cum.agg(
      min(when(col("cum") >= expr("(n_docs * 75 + 99) div 100"), col("s4"))).as("s4_p75"))
    scored.crossJoin(broadcast(thresh))
      .where(col("s4") >= col("s4_p75"))
      .select(col("doc_id"), col("score"))
      .orderBy("doc_id")
  }

  /** Bloom-pruned join under the hard gate: the probe side (lineitem)
    * is gated MAP-SIDE by a Bloom filter fitted on the build side's
    * keys ([[operators.Sketch.bloomPrune]] — the runtime-filter
    * pushdown shape) before any shuffle; the real join then re-verifies
    * survivors, so the result must equal the plain join exactly while
    * n_candidates > n_joined makes the false-positive overhead a
    * visible, oracle-checked quantity. At 100 TB this is the difference
    * between shuffling 0.3% of the fact table and all of it.
    */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
             col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
             col("o_orderdate") < lit(Timestamp.valueOf("1996-02-01 00:00:00")))
      .select("o_orderkey")
    val cand = operators.Sketch.bloomPrune(urgent, "o_orderkey",
      Tables.lineitem(spark, dir), "l_orderkey", mBits = 1 << 12, kHashes = 3)
    cand.join(urgent, col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_candidates"),
        count(col("o_orderkey")).as("n_joined"),
        sum(when(col("o_orderkey").isNotNull, revenueU4).otherwise(lit(0L))).as("u4"))
      .select(col("n_candidates"), col("n_joined"), u4ToDollars("u4").as("revenue"))
  }

  /** The OTHER skew guard under the hard gate: [[operators.Skew.saltedJoin]]
    * replicates the small per-user dim across 8 salts so one hot user
    * cannot pin a join task; the oracle is the PLAIN join + aggregate,
    * so salting must be invisible in the result (exact long sums).
    */
  def eventsSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "event_id")
    val dim = Tables.events(spark, dir)
      .groupBy("user_id").agg(min("event_id").as("first_event_id"))
    operators.Skew.saltedJoin(ev, dim, "user_id", numSalts = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("event_id") - col("first_event_id")).as("delta_sum"))
      .orderBy("event_type")
  }

  /** Tumbling-window event aggregation (batch twin of the streaming path). */
  def eventsWindowed(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        unix_timestamp(date_trunc("HOUR", col("ts"))).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), roundTo(sum("value"), 2).as("sum_value"))
      .orderBy("hour_start", "event_type")

  /** Top-5 events per type by value (window-function top-n). */
  def eventsTopN(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("event_type"), col("rank"), col("event_id"), roundTo(col("value"), 4).as("value"))
      .orderBy("event_type", "rank")
  }

  /** 3σ outlier events per event_type under the EXACT integer decision
    * rule (n·x − S)² > 9·(n·Q − S²) — see [[operators.Stats.sigmaOutliers]]:
    * no float ever enters the membership test, so the boundary rows are
    * bit-reproducible at any parallelism.
    */
  /** OLAP rollup: (event_type × day) aggregates with per-type subtotals
    * and a grand total in one pass — Spark's ROLLUP grouping sets are
    * partial-agg friendly (each set aggregates map-side before one
    * shuffle). Money math is fixed to exact long 1e-4 units (floor of
    * the binary value) so every subtotal sums identically in any
    * aggregation order; subtotal levels surface as 'ALL'.
    */
  def eventsRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
      .rollup("event_type", "day")
      .agg(count(lit(1)).as("n"), sum("v4").as("sum_v4"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"), col("n"), col("sum_v4"))
      .orderBy("event_type", "day")

  /** Per-user trailing 5-event moving average of `value` (bounded ROWS
    * frame — O(1) state per row, one key shuffle). The average divides
    * an exact long 1e-4-unit sum by the window count ONCE, so the
    * result is engine-reproducible at 4 dp.
    */
  def eventsMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"),
        floor(col("value") * 10000 + lit(0.5)).cast("long").as("v4"))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_avg",
        roundTo(sum(col("v4")).over(w) / (col("mov_n") * 10000L), 4))
      .select("user_id", "event_id", "t_us", "mov_n", "mov_avg")
      .orderBy("user_id", "t_us", "event_id")
  }

  /** SCD type-2 history of each user's json `k` attribute from the raw
    * event log: consecutive-run compaction + validity intervals, one
    * key shuffle (gaps-and-islands, no self-join).
    */
  def eventsScd2(spark: SparkSession, dir: String): DataFrame =
    operators.Scd.type2(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("props"),
          unix_micros(col("ts")).as("t_us")),
      keyCol = "user_id",
      valueCol = get_json_object(col("props"), "$.k").cast("int"),
      ordCol = "t_us", tieCol = "event_id")

  /** Point-in-time dimension enrichment — [[eventsScd2]]'s table
    * composed with the as-of join (the warehouse pattern both operators
    * exist for): each purchase is attributed to the dimension VERSION
    * valid at its event time. Because SCD2 versions partition each
    * key's timeline (valid_to = next valid_from), "latest valid_from
    * ≤ t" IS the containing version — so the enrichment runs as
    * [[operators.AsOf.joinPrior]]'s one-shuffle union shape (no
    * interval explode, no pair blow-up), and every stage shuffles on
    * the same user_id key hash.
    */
  def eventsScd2Enrich(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("event_id"),
      col("event_type"), col("props"), unix_micros(col("ts")).as("t_us"))
    val dim = operators.Scd.type2(
        ev.select("user_id", "event_id", "props", "t_us"),
        keyCol = "user_id",
        valueCol = get_json_object(col("props"), "$.k").cast("int"),
        ordCol = "t_us", tieCol = "event_id")
      .select(col("user_id"), col("valid_from").as("t_us"),
        col("version"), col("v"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "t_us", "event_id")
    operators.AsOf.joinPrior(purchases, dim, "user_id", "t_us",
        payload = Seq("version", "v"), tieCol = "version")
      .orderBy("user_id", "t_us", "event_id")
  }

  /** Exact heavy hitters over user_id: per-partition Misra–Gries
    * candidates (bounded memory) + broadcast-gated exact re-count.
    */
  def eventsHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    operators.Stats.heavyHitters(
      Tables.events(spark, dir).select("user_id"), keyCol = "user_id")

  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame =
    operators.Stats.sigmaOutliers(
        Tables.events(spark, dir).select("event_type", "event_id", "value"),
        keyCol = "event_type", valueCol = "value", k = 3, scale = 4)
      .select(col("event_type"), col("event_id"), roundTo(col("value"), 4).as("value"))
      .orderBy("event_type", "event_id")

  /** Funnel analysis: per user, first view → first click strictly after
    * it → first purchase strictly after that; one row of stage
    * populations. Each stage is a (user-keyed partial min-agg + join) on
    * integer-microsecond timestamps — exact comparisons, no windows over
    * the full event stream, shuffle keyed by user_id throughout.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t_view"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("t") > col("t_view"))
      .groupBy("user_id").agg(min("t").as("t_click"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("t") > col("t_click"))
      .groupBy("user_id").agg(min("t").as("t_purchase"))
    v.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_users")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_users")))
  }

  /** Ordered funnel with a per-step 1-hour timeout (the ClickHouse
    * `windowFunnel` shape): a user reaches stage 2 with a click at most
    * 1 h after some EARLIER view, stage 3 with a purchase at most 1 h
    * after such a click. Unlike [[eventsFunnel]] (3 keyed join+agg
    * passes, no timeout), this is ONE user_id shuffle end to end: two
    * stacked running-min windows over the same (user, time) order
    * compute each row's earliest qualifying prior stage, and the
    * per-user flags aggregate on the partitioning the window already
    * established — linear per user, no self-join, no pair blow-up.
    */
  def eventsWindowFunnel(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 3600L * 1000000L // 1 h in integer µs — no float time math
    val prior = Window.partitionBy("user_id").orderBy("t", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .withColumn("t_view_min",
        min(when(col("event_type") === "view", col("t"))).over(prior))
      .withColumn("t_click_ok",
        when(col("event_type") === "click" && col("t_view_min").isNotNull &&
          col("t") <= col("t_view_min") + winUs, col("t")))
      .withColumn("t_click_min", min(col("t_click_ok")).over(prior))
    staged.groupBy("user_id")
      .agg(
        max((col("event_type") === "view").cast("int")).as("s1"),
        max(col("t_click_ok").isNotNull.cast("int")).as("s2"),
        max((col("event_type") === "purchase" && col("t_click_min").isNotNull &&
          col("t") <= col("t_click_min") + winUs).cast("int")).as("s3"))
      .agg(
        count(when(col("s1") === 1, 1)).as("n_stage1"),
        count(when(col("s2") === 1, 1)).as("n_stage2"),
        count(when(col("s3") === 1, 1)).as("n_stage3"))
  }

  /** Funnel conversion-latency percentiles: for users who COMPLETE the
    * view→click→purchase window funnel, first-view to first-qualifying-
    * purchase time in seconds, reported as p50/p90/p99/max by rank
    * selection. Qualification reuses [[eventsWindowFunnel]]'s stacked
    * prior-row windows (same exact integer-µs chain); the percentile
    * windows run over the latency-VALUE distribution, which the 2×1 h
    * step windows bound at 7200 distinct seconds — never a per-user
    * sort.
    */
  def eventsFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 3600L * 1000000L
    val prior = Window.partitionBy("user_id").orderBy("t", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val staged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .withColumn("t_view_min",
        min(when(col("event_type") === "view", col("t"))).over(prior))
      .withColumn("t_click_ok",
        when(col("event_type") === "click" && col("t_view_min").isNotNull &&
          col("t") <= col("t_view_min") + winUs, col("t")))
      .withColumn("t_click_min", min(col("t_click_ok")).over(prior))
    val lat = staged.groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("t"))).as("tv"),
        min(when(col("event_type") === "purchase" && col("t_click_min").isNotNull &&
          col("t") <= col("t_click_min") + winUs, col("t"))).as("tp"))
      .where(col("tp").isNotNull)
      .select(expr("(tp - tv) div 1000000").as("lat_s"))
    val counts = lat.groupBy("lat_s").agg(count(lit(1)).as("c"))
    def pos(q: Int): Column = expr(s"(n * $q + 99) div 100")
    counts
      .withColumn("cum", sum("c").over(Window.orderBy("lat_s")))
      .withColumn("n", sum("c").over(Window.partitionBy()))
      .agg(max("n").as("n_completed"),
        min(when(col("cum") >= pos(50), col("lat_s"))).as("p50_s"),
        min(when(col("cum") >= pos(90), col("lat_s"))).as("p90_s"),
        min(when(col("cum") >= pos(99), col("lat_s"))).as("p99_s"),
        max("lat_s").as("max_s"))
  }

  /** Top-10 most frequent 3-step event-type paths (user-journey n-gram
    * mining): two lag windows over one (user, time) sort emit each
    * row's trigram map-side, then a partial-aggregated count and a
    * TakeOrdered cut — one key shuffle + one narrow (path, n) shuffle,
    * never a sequence collect per user.
    */
  def eventsPathTopk(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .withColumn("p1", lag("event_type", 1).over(byUser))
      .withColumn("p2", lag("event_type", 2).over(byUser))
      .where(col("p2").isNotNull)
      .select(concat_ws(">", col("p2"), col("p1"), col("event_type")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** HLL as an ALGEBRA: the distinct-viewer and distinct-purchaser
    * register states max-merge into the union's state, and
    * inclusion–exclusion prices the overlap — no re-scan of the data to
    * answer a set question the two sketches already contain (the reason
    * register tables, ≤ 256 rows per set at any size, are worth
    * persisting). Exact counts ride along as the yardstick; estimates
    * via [[operators.Sketch.hllEstimate]] on the merged state.
    */
  def eventsHllSetops(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("event_type").as("s"), col("user_id").cast("string").as("item"))
    // materialize the ≤ 512-row register state once (localCheckpoint)
    // so the per-set estimate AND the union max-merge read the same
    // tiny table instead of re-scanning events per leg — in production
    // this IS the persisted sketch table
    val regs = operators.Sketch.hllRegisters(ev, "s", col("item")).localCheckpoint()
    val union = regs.groupBy("reg").agg(max("mj").as("mj"))
      .select(lit("union").as("s"), col("reg"), col("mj"))
    val est = operators.Sketch.hllEstimate(regs.unionByName(union), "s")
      .agg(
        max(when(col("s") === "view", col("hll_est"))).as("est_view"),
        max(when(col("s") === "purchase", col("hll_est"))).as("est_purchase"),
        max(when(col("s") === "union", col("hll_est"))).as("est_union"))
      .withColumn("est_inter",
        roundTo(col("est_view") + col("est_purchase") - col("est_union"), 4))
    val exact = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(
        max((col("event_type") === "view").cast("int")).as("v"),
        max((col("event_type") === "purchase").cast("int")).as("p"))
      .agg(
        count(when(col("v") === 1, 1)).as("n_view"),
        count(when(col("p") === 1, 1)).as("n_purchase"),
        count(lit(1)).as("n_union"),
        count(when(col("v") === 1 && col("p") === 1, 1)).as("n_inter"))
    exact.crossJoin(est)
  }

  /** Exact per-source token-length percentiles (p50/p90/p99) by rank
    * selection — percentile_disc semantics in pure integer arithmetic
    * (position ⌈q·n⌉ under the deterministic (n_tok, doc_id) order), so
    * both engines pick the identical element; no interpolation floats.
    * One narrow shuffle by source for the rank window, conditional-agg
    * pivot after.
    */
  def corpusQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(
      col("source"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")).as("n_tok"))
    // exact rank selection over the VALUE DISTRIBUTION, not the rows:
    // after the (source, n_tok) partial-agg count, the cumulative window
    // spans only the distinct token-count values (bounded by max doc
    // length) — never a per-source sort of the corpus. The q-th
    // percentile is the smallest value whose cumulative count reaches
    // ⌈q·n/100⌉ — identical to the row-rank definition.
    val counts = base.groupBy("source", "n_tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("n_tok")
    val tot = Window.partitionBy("source")
    def pos(q: Int): Column = expr(s"(n_docs * $q + 99) div 100") // integer ⌈q·n/100⌉
    counts
      .withColumn("cum", sum("c").over(w))
      .withColumn("n_docs", sum("c").over(tot))
      .groupBy("source")
      .agg(
        max("n_docs").as("n_docs"),
        min(when(col("cum") >= pos(50), col("n_tok"))).as("p50"),
        min(when(col("cum") >= pos(90), col("n_tok"))).as("p90"),
        min(when(col("cum") >= pos(99), col("n_tok"))).as("p99"))
      .orderBy("source")
  }

  /** Point-in-time enrichment: each purchase joined to the user's most
    * recent signup at-or-before it (see [[operators.AsOf.joinPrior]] —
    * union + key-partition running window, one shuffle, no pair
    * blow-up). Purchases with no prior signup keep a null signup_id.
    */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), unix_micros(col("ts")).as("t_us"),
      col("event_id"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "t_us", "event_id")
    val signups = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("t_us"), col("event_id").as("signup_id"))
    operators.AsOf.joinPrior(purchases, signups, "user_id", "t_us",
        payload = Seq("signup_id"), tieCol = "signup_id")
      .orderBy("user_id", "t_us", "event_id")
  }

  /** Interval containment join: error events attributed to the user
    * session (built over non-error events) whose [start, end] window
    * contains them — see [[operators.Interval.joinContaining]]: the
    * intervals explode into 1-hour buckets and the join is a narrow
    * (user, bucket) equi-join + exact filter, never a per-key cross
    * product. Errors falling in inter-session gaps drop out (inner).
    */
  def eventsSessionAttr(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    // 12 h "visit" gap: the synthetic stream averages one event per
    // ~11 h per user, so a web-style 30-min gap degenerates to
    // single-event sessions that can contain nothing
    val gapUs = 12L * 3600 * 1000000
    val sessions = ev.where(col("event_type") =!= "error")
      .withColumn("brk",
        when(lag(col("t_us"), 1).over(byUser).isNull ||
             col("t_us") - lag(col("t_us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("t_us").as("t_start"), max("t_us").as("t_end"))
    val errors = ev.where(col("event_type") === "error")
      .select("user_id", "event_id", "t_us")
    operators.Interval.joinContaining(errors, sessions, "user_id", "t_us",
        "t_start", "t_end", payload = Seq("session_id"), bucketWidth = 86400000000L)
      .select(col("user_id"), col("event_id"), col("t_us"),
        col("session_id").cast("long").as("session_id"))
      .orderBy("user_id", "event_id")
  }

  /** Cohort retention: users grouped by first-active day; per (cohort,
    * day-offset ≤ 7) distinct-user counts. The (user, active-day)
    * dedup IS the distinct-count state — one narrow pair per user-day,
    * partial-aggregated, then a user-keyed broadcast-scale join to the
    * cohort map; all calendar math on exact integer day arithmetic.
    */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val cohort = active.groupBy("user_id").agg(min("d").as("cd"))
    active.join(cohort, "user_id")
      .select(date_format(col("cd"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("cd")).as("day_offset"))
      .where(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** DAU / MAU engagement (stickiness): distinct users per day next to
    * the 28-day rolling distinct-user count ending that day — the
    * complement of [[eventsRetention]]'s cohort view. Exact at scale
    * via the day-mirror trick: each (user, day) activity row
    * contributes to the 28 target days it keeps the user "monthly
    * active" for — a map-side explode of a 28-long sequence — so the
    * rolling distinct is an ordinary (target_day, user) two-phase
    * distinct aggregation: never a per-day set union, never a window
    * over user sets. Shuffle is 28 × |user-days| narrow integer rows
    * with map-side dedup; both counts are exact longs and stickiness
    * is one double division of two exact longs.
    */
  def eventsDauMau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long").as("day_num"))
      .distinct()
    // the mirror offset doubles as the DAU marker (offset 0 = active ON
    // the target day), so one aggregation over one exploded pass yields
    // both counts — no second scan, no dau-mau join
    ud.select(col("user_id"),
        posexplode(sequence(col("day_num"), col("day_num") + 27))
          .as(Seq("off", "t_day")))
      .groupBy("t_day")
      .agg(
        count_distinct(col("user_id")).as("mau"),
        sum(when(col("off") === 0, lit(1L)).otherwise(lit(0L))).as("dau"))
      .where(col("dau") >= 1)
      .select(col("t_day").as("day_num"), col("dau"), col("mau"),
        roundTo(col("dau").cast("double") / col("mau"), 4).as("stickiness"))
      .orderBy("day_num")
  }

  /** Z-order (Morton) layout key over (user_id, day): rows sorted by
    * the interleaved value cluster in BOTH dimensions at once, so
    * min/max file stats admit data skipping on either column — the
    * multi-dimensional lakehouse layout (Delta/Iceberg Z-ORDER), here
    * as the deterministic key derivation (codegen
    * [[graft.functions.InterleaveBits]]); ZorderSpec proves the
    * locality property the layout buys.
    */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("day_num"))
      .select(col("event_id"), col("user_id"), col("day_num"),
        interleaveBits(pmod(col("user_id"), lit(65536L)), pmod(col("day_num"), lit(65536L)), 16).as("z"))
      .orderBy("z", "event_id")

  /** Gap-based sessionization: new session when >30 min since the user's
    * previous event. Integer-microsecond timestamps keep the gap test
    * bit-identical to the oracle.
    */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("brk",
        when(lag(col("t_us"), 1).over(byUser).isNull ||
             col("t_us") - lag(col("t_us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"),
        roundTo(sum("value"), 2).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** k-NN majority-vote classification of the held-out eval slice
    * (vec_id % 100 == 0) against the REST of the corpus (no self-match
    * by construction — train/test split semantics): top-10 L2
    * neighbors per query via the bounded-heap partial aggregate, label
    * votes as a second partial agg, mode with smallest-label tie-break
    * resolved by a struct max — never a per-query sort. The faiss-eval
    * "k-NN accuracy" loop as one distributed query; at scale the only
    * shuffles are O(queries × k) heaps and the narrow label join.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val hold = col("vec_id") % 100 === 0
    val queries = emb.where(hold)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val nn = Knn.searchBatch(emb.where(!hold), "vec_id", "embedding",
      queries, "q_id", "q_vec", k = 10, metric = "l2")
    val voted = nn
      .join(Tables.embeddings(spark, dir).select(col("vec_id").as("n_id"), col("label")), "n_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("q_id")
      .agg(max(struct(col("votes"), (-col("label")).as("neg_label"))).as("m"))
      .select(col("q_id"), (-col("m.neg_label")).as("pred_label"),
        col("m.votes").as("votes"))
    voted
      .join(Tables.embeddings(spark, dir).where(hold)
        .select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .select("q_id", "true_label", "pred_label", "votes")
      .orderBy("q_id")
  }

  /** Welch two-sample t between every event-type pair on `value`. The
    * per-type moments (n, Σv, Σv²) are EXACT integer cents — one
    * partial-aggregated scan, 5 rows out — and the t statistic is the
    * only floating step: identical double expression trees on both
    * engines over the same exact integers, so the 4-dp result is
    * engine-reproducible (no parallel-float-sum order dependence).
    * The tiny moment×moment pair join is broadcast (never Cartesian).
    */
  def eventsTtest(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"), sum(col("c") * col("c")).as("q"))
    val a = m.select(col("event_type").as("type_a"), col("n").as("n_a"),
      col("s").as("s_a"), col("q").as("q_a"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("n_b"),
      col("s").as("s_b"), col("q").as("q_b"))
    def d(c: Column): Column = c.cast("double")
    val meanA = d(col("s_a")) / d(col("n_a"))
    val meanB = d(col("s_b")) / d(col("n_b"))
    val varA = (d(col("q_a")) - d(col("s_a")) * d(col("s_a")) / d(col("n_a"))) / (d(col("n_a")) - lit(1.0))
    val varB = (d(col("q_b")) - d(col("s_b")) * d(col("s_b")) / d(col("n_b"))) / (d(col("n_b")) - lit(1.0))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        roundTo((meanA - meanB) / sqrt(varA / d(col("n_a")) + varB / d(col("n_b"))), 4).as("t"))
      .orderBy("type_a", "type_b")
  }

  /** Day × event-type pivot matrix of exact integer-cent revenue: the
    * BI crosstab as ONE partial-aggregated shuffle keyed by day
    * (explicit pivot value list — no driver-side distinct pass), empty
    * cells filled with 0. Output rows ∝ days, never data size.
    */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum("c"))
      .na.fill(0L)
      .orderBy("day")

  // =====================================================================
  // Round-6 additions: semantic dedup, dedup accounting, affinity /
  // elasticity analytics, burst detection
  // =====================================================================

  /** SemDeDup over the embedding table: centroids fit at target cluster
    * size 100 (K scales with n — the same fitScaled discipline as the
    * k-NN graph build), cosine ≥ 0.35 within a cluster ⇒ drop. The
    * parameter-literal oracle re-derives assignment and pairs from the
    * spliced centroids ([[Oracles.dynamic]]).
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitScaled(emb, "embedding", targetClusterSize = 100L)
    Dedup.semanticDrop(emb, "vec_id", "embedding", centroids, minCosine = 0.35)
  }

  /** The dedup business case as a report: per source, how many documents
    * and characters the minhash near-dup clusters (est ≥ 0.5, canonical =
    * min id) would remove. Reuses the [[Dedup.resolveClusters]] machinery;
    * the rollup itself is one narrow (source) aggregation.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupIdx(spark, dir).clusters
      .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup").cast("long")).as("n_dropped"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_dup"), col("n_chars")).otherwise(lit(0L))).as("chars_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("chars_total"), col("chars_dropped"),
        roundTo(col("chars_dropped").cast("double") / col("chars_total").cast("double"), 4)
          .as("pct_chars_dropped"))
      .orderBy("source")
  }

  /** Market-basket affinity over order baskets: top-20 part pairs by
    * within-order co-occurrence, with lift = P(a,b) / (P(a)·P(b)). The
    * self-join is co-partitioned on the order key and each order
    * contributes at most C(|basket|, 2) pairs — basket size is
    * data-bounded (≤ 7 in TPC-H shapes), so the pair explosion is
    * linear in lineitems at any scale; part-frequency joins are plain
    * shuffle equi-joins (AQE broadcasts them while they fit).
    */
  def ordersBasketAffinity(spark: SparkSession, dir: String): DataFrame = {
    // ONE basket table (per-order sorted distinct part set) feeds the
    // pair counts and both marginals — collect_set replaces the old
    // distinct + ok-keyed SELF-JOIN (which shuffled the (ok, pk) table
    // three times and produced the per-order pair mass as join output);
    // pair expansion is now MAP-SIDE combination generation over the
    // basket arrays (the blockPairScan shape — baskets are ≤ a few
    // hundred parts by construction of an order, so the per-row explode
    // is bounded). DISK_ONLY persist (not localCheckpoint): lazy, and
    // recoverable on executor loss — a corpus-scale intermediate must
    // never live only in non-fault-tolerant block storage.
    // primed EAGERLY: the marginal-count and n_orders subtrees are
    // broadcast-built on separate driver threads and raced the lazy
    // cache, re-running the lineitem collect_set aggregation.
    val baskets = operators.Caching.primed(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("pks")),
      StorageLevel.DISK_ONLY)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val cnt = baskets.select(explode(col("pks")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("cnt"))
    // The report cut (pair_n desc, part_a, part_b) does not read the
    // marginals, so the top-20 heap runs BEFORE the cnt joins — the
    // lift arithmetic then touches 20 rows instead of every pair.
    val top = baskets.select(explode(expr(
        "flatten(transform(pks, (a, i) -> " +
          "transform(slice(pks, i + 2, size(pks)), b -> named_struct('part_a', a, 'part_b', b))))"))
        .as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("pair_n"))
      .orderBy(col("pair_n").desc, col("part_a"), col("part_b"))
      .limit(20)
    top
      .join(cnt.select(col("pk").as("part_a"), col("cnt").as("cnt_a")), "part_a")
      .join(cnt.select(col("pk").as("part_b"), col("cnt").as("cnt_b")), "part_b")
      .crossJoin(nOrders)
      .select(col("part_a"), col("part_b"), col("pair_n"),
        roundTo((col("pair_n") * col("n_orders")).cast("double")
          / (col("cnt_a") * col("cnt_b")).cast("double"), 4).as("lift"))
      .orderBy(col("pair_n").desc, col("part_a"), col("part_b"))
  }

  /** Per-ship-month OLS slope of quantity on discount — the pricing
    * what-if primitive, computed from exact integer moments (discount in
    * cents) in ONE scan + one months-bounded aggregation; doubles enter
    * only in the final slope division, written identically in the oracle
    * (the [[tableCorr]] discipline).
    */
  def lineitemDiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val li = Tables.lineitem(spark, dir).select(
      date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
      col("l_quantity").cast("long").as("q"),
      floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("d"))
    li.groupBy("ship_month")
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("d"))).as("sd"), sum(dec(col("q"))).as("sq"),
        sum(dec(col("d")) * dec(col("d"))).as("sdd"),
        sum(dec(col("d")) * dec(col("q"))).as("sdq"))
      .select(col("ship_month"), col("n").cast("long").as("n"),
        roundTo((col("n") * col("sdq") - col("sd") * col("sq")).cast("double")
          / (col("n") * col("sdd") - col("sd") * col("sd")).cast("double"), 6)
          .as("slope_qty_disc"),
        roundTo(col("sq").cast("double") / col("n").cast("double"), 4).as("mean_qty"))
      .orderBy("ship_month")
  }

  /** Burst detection: hour buckets whose event count exceeds that event
    * type's mean by 3σ (high side only — a burst, not a lull). The
    * bucketed counts are one partial-aggregated shuffle (rows ∝ types ×
    * hours, not events); the σ decision is
    * [[operators.Stats.sigmaOutliers]]'s all-integer rule, so membership
    * is bit-reproducible. Complements events_anomaly (per-row VALUE
    * outliers) with per-bucket VOLUME outliers.
    */
  def eventsBurst(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
      .groupBy("event_type", "bucket_us")
      .agg(count(lit(1)).as("hits"))
    operators.Stats.sigmaOutliers(counts, keyCol = "event_type", valueCol = "hits",
        k = 3, scale = 0, highOnly = true)
      .select(col("event_type"), col("bucket_us"), col("hits").as("n"))
      .orderBy("event_type", "bucket_us")
  }

  /** NDCG@10 of the BM25 keyword ranking against graded embedding
    * ground truth (rel = 11 − L2-rank of the leave-self-out top-10) —
    * the graded-relevance companion to [[retrievalRecallEval]]'s binary
    * recall/MRR. Cross-engine exactness: the position discount
    * 1/log2(i+1) is a LITERAL integer milli-weight table (no log in
    * either engine), so DCG is an exact long sum and NDCG one double
    * division by the constant ideal DCG. Scale shape: identical to
    * retrieval_recall_eval — BM25 postings pruned to query vocab
    * pre-shuffle, truth via the salted searchBatch bounded-heap agg,
    * the rel-assignment window bounded at 11 rows per query.
    */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val qids = Seq(7L, 107L, 207L, 307L, 407L)
    val docs = Tables.documents(spark, dir)
    val qterms = docs.where(col("doc_id").isin(qids: _*))
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(wordTokens(col("text")))).as("term"))
    val bm = operators.Retrieval.bm25TopKBatchFromIndex(textPostings(spark, dir),
      textDocLengths(spark, dir), qterms, k = 10, excludeQueryDoc = true)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // leave-self-out truth, excluded BEFORE the rank cut (see
    // retrievalRecallEval); rel = 11 − rank over the 10 survivors
    val truth = Knn.searchBatch(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
        k = 10, metric = "l2", excludeSelf = true)
      .select(col("q_id").as("t_q"), col("n_id").as("t_id"),
        (lit(11) - col("rank")).cast("long").as("rel"))
    // floor(1e6/log2(i+1) + 0.5) for i = 1..10; idcg = Σ (11-i)·w_i
    val w = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val idcg = 29966114.0
    val dcg = bm
      .join(truth, col("q_id") === col("t_q") && col("doc_id") === col("t_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("rel"), lit(0L)) * element_at(typedLit(w), col("rank")))
        .as("dcg"))
    queries.select(col("q_id").as("q_doc"))
      .join(dcg, col("q_doc") === col("q_id"), "left")
      .select(col("q_doc"), coalesce(col("dcg"), lit(0L)).as("dcg"),
        roundTo(coalesce(col("dcg"), lit(0L)).cast("double") / lit(idcg), 4).as("ndcg"))
      .orderBy("q_doc")
  }

  /** MMR-diversified top-5 (λ = 0.7) from each query's cosine top-20
    * candidate list — the diversity re-rank a retrieval stack applies
    * before returning results (see [[operators.Knn.mmrDiversify]] for
    * the exactness + scale story). Candidates come from the salted
    * bounded-heap batch search; the greedy loop touches only the
    * 20-candidate lists, never the corpus.
    */
  def embeddingMmr(spark: SparkSession, dir: String): DataFrame = {
    val qids = Seq(7L, 107L, 207L, 307L, 407L)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // self excluded BEFORE the top-20 cut (the retrievalRecallEval fix)
    val cand = Knn.searchBatch(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
        k = 20, metric = "cosine", excludeSelf = true)
      .select(col("q_id"), col("n_id"))
    val withVecs = cand
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("c_vec")), "n_id")
      .join(queries, "q_id")
    Knn.mmrDiversify(withVecs, "q_id", "n_id", "q_vec", "c_vec", k = 5, lambda10 = 7)
      .select(col("q_id"), col("pick"), col("vec_id"),
        roundTo(col("sc6").cast("double") / lit(1.0e7), 4).as("mmr"))
      .orderBy("q_id", "pick")
  }

  /** Contrastive-training triplet mining: (anchor, positive, negative)
    * rows for embedding fine-tuning — positives are minhash near-dup
    * pairs (est ≥ 0.5, the same evidence dedup acts on), negatives a
    * deterministic hash-derived corpus index (doc_ids are dense
    * 0..n−1) stepped past collisions with the pair, so the sample is
    * reproducible with no RNG state. Scale shape: cost = the near-dup
    * pair volume (content-bounded, see minhashPairs) plus a 1-row
    * count broadcast; the negative draw is pure map-side arithmetic.
    */
  def corpusContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = dedupIdx(spark, dir).minhashPairs(minEst = 0.5)
    // gated count: the negative draw indexes doc_ids 0..n-1 by value —
    // sparse ids would silently drop negatives (r7 finding #2)
    val n = operators.Stats.denseIdCount(docs, "doc_id", "n_docs", "corpus_contrastive_pairs")
    def step(k: Int): Column = pmod(col("h0") + k, col("n_docs"))
    pairs.crossJoin(broadcast(n))
      .withColumn("h0", pmod(tokenHash60(
        concat(lit("neg:"), col("a_id").cast("string"), lit(":"), col("b_id").cast("string"))),
        col("n_docs")))
      .select(col("a_id").as("anchor_id"), col("b_id").as("pos_id"),
        when(col("h0") =!= col("a_id") && col("h0") =!= col("b_id"), col("h0"))
          .when(step(1) =!= col("a_id") && step(1) =!= col("b_id"), step(1))
          .otherwise(step(2)).as("neg_id"),
        col("est_sim"))
      .orderBy("anchor_id", "pos_id")
  }

  /** Language-ID confusion matrix: declared `lang` column × predicted
    * language with per-cell share of the declared class — the accuracy
    * artifact that turns text_langid from a transform into a measured
    * classifier. One map-side langid pass (stopwordVotes kernel) into a
    * (langs²)-bounded aggregate; shares are single divisions.
    */
  def textLanguageConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pred = TextAnalysis.langId(docs, "doc_id", "text").select("doc_id", "lang_pred")
    val cells = docs.select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("lang").agg(sum("n").as("t"))
    cells.join(tot, "lang")
      .select(col("lang"), col("lang_pred"), col("n"),
        roundTo(col("n").cast("double") / col("t").cast("double"), 4).as("share"))
      .orderBy("lang", "lang_pred")
  }

  /** EWMA next-hour volume forecast per event type (α = 0.3): hourly
    * counts fold through s ← 0.3·x + 0.7·s in bucket order inside the
    * codegen `aggregate` higher-order function — the oracle replays the
    * IDENTICAL sequential fold with list_reduce, so the trajectory is
    * bit-exact with no pow() in either engine (libm pow ULP differences
    * are exactly what this formulation avoids). Scale shape: the fold
    * runs over the (types × hours)-bounded bucket table, never over
    * events; collect_list is per-type and hours-bounded.
    */
  def eventsEwmaForecast(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(date_trunc("hour", col("ts"))).as("b"))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("n"))
    hourly.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("b"), col("n")))).as("xs"),
        count(lit(1)).as("n_buckets"))
      .select(col("event_type"), col("n_buckets"),
        element_at(col("xs"), -1).getField("n").as("last_n"),
        roundTo(aggregate(
          expr("slice(xs, 2, size(xs) - 1)"),
          element_at(col("xs"), 1).getField("n").cast("double"),
          (acc, e) => lit(0.3) * e.getField("n").cast("double") + lit(0.7) * acc), 4)
          .as("ewma_forecast"))
      .orderBy("event_type")
  }

  /** Forecast backtest: hold out each type's LAST hour bucket, forecast
    * it with the EWMA fold over the prefix and with the naive
    * last-value rule, and report both absolute errors — the artifact
    * that says whether [[eventsEwmaForecast]]'s smoothing actually
    * beats doing nothing. Same bounded fold shape (types × hours
    * buckets, sequential fold replayed by list_reduce); errors are
    * |exact long − fold double| rounded once.
    */
  def eventsForecastEval(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(date_trunc("hour", col("ts"))).as("b"))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("n"))
    hourly.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("b"), col("n")))).as("xs"),
        count(lit(1)).as("n_buckets"))
      .where(col("n_buckets") >= 3)
      .select(col("event_type"), col("n_buckets"),
        element_at(col("xs"), -1).getField("n").as("actual"),
        element_at(col("xs"), -2).getField("n").as("naive_pred"),
        aggregate(
          expr("slice(xs, 2, size(xs) - 2)"),
          element_at(col("xs"), 1).getField("n").cast("double"),
          (acc, e) => lit(0.3) * e.getField("n").cast("double") + lit(0.7) * acc)
          .as("ewma_raw"))
      .select(col("event_type"), col("n_buckets"), col("actual"),
        roundTo(col("ewma_raw"), 4).as("ewma_pred"),
        roundTo(abs(col("actual").cast("double") - col("ewma_raw")), 4).as("ewma_abs_err"),
        abs(col("actual") - col("naive_pred")).as("naive_abs_err"))
      .orderBy("event_type")
  }

  /** Embedding drift monitor: per-label L2 shift between the centroid
    * of the first half of the id space and the second (the model-rot /
    * re-embedding check a vector store runs after an encoder update).
    * Exact despite mean ratios — the [[vectorCentroidDist]] trick:
    * shift numerator Σ_d (s6a·nb − s6b·na)² accumulates as exact
    * decimal integers in any order; one sqrt + one division at the
    * end. Cost: one posexplode scan into a (labels × 2 × dim)-bounded
    * aggregate.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val nTot = emb.agg(count(lit(1)).as("n_all"))
    val c = emb.crossJoin(broadcast(nTot))
      .select(col("label"), (col("vec_id") * 2 < col("n_all")).as("early"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "early", "d")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * 1000000.0 + lit(0.5)).cast("long")).as("s6"))
    def dec(x: Column): Column = x.cast("decimal(38,0)")
    val e = c.where(col("early"))
      .select(col("label"), col("d"), col("n").as("na"), col("s6").as("s6a"))
    val l = c.where(!col("early"))
      .select(col("label"), col("d"), col("n").as("nb"), col("s6").as("s6b"))
    val diff = dec(col("s6a")) * dec(col("nb")) - dec(col("s6b")) * dec(col("na"))
    e.join(l, Seq("label", "d"))
      .groupBy("label")
      .agg(max("na").as("n_early"), max("nb").as("n_late"),
        sum(diff * diff).as("num"))
      .select(col("label"), col("n_early"), col("n_late"),
        roundTo(sqrt(col("num").cast("double"))
          / (col("n_early") * col("n_late") * lit(1000000.0)), 4).as("drift"))
      .orderBy("label")
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): users
    * split into variants by id parity; Y = post-period spend, covariate
    * X = pre-period spend (halves of the time range), and the adjusted
    * metric Y − θ·(X − E[X]) with θ = cov(X,Y)/var(X) pooled across
    * variants. Scale shape: ONE user-keyed shuffle builds per-user
    * (x, y); pooled + per-variant moments are tiny decimal aggregates
    * (exact integers, broadcast back); θ and the means are the only
    * doubles, derived from exact integer moments in an expression tree
    * the oracle mirrors verbatim.
    */
  def eventsAbtestCuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      unix_micros(col("ts")).as("us"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("c"))
    val mid = ev.agg((min("us") + max("us")).as("mm")).select(expr("mm div 2").as("mid_us"))
    val per = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("us") <= col("mid_us"), col("c")).otherwise(0L)).as("x"),
        sum(when(col("us") > col("mid_us"), col("c")).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def d(c: Column): Column = c.cast("double")
    // pooled moments = window sums over the 2-row variant table (exact
    // integer sums of sums), so the per-user table is aggregated ONCE
    // and the events table scanned exactly twice (plan-guarded) — a
    // separate pooled aggregate would recompute the user rollup
    val w = Window.partitionBy()
    val v = per.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(dec(col("x"))).as("vx"), sum(dec(col("y"))).as("vy"),
        sum(dec(col("x")) * dec(col("x"))).as("vxx"),
        sum(dec(col("x")) * dec(col("y"))).as("vxy"))
      .withColumn("n", sum(dec(col("n_users"))).over(w))
      .withColumn("sx", sum(col("vx")).over(w))
      .withColumn("sy", sum(col("vy")).over(w))
      .withColumn("sxx", sum(col("vxx")).over(w))
      .withColumn("sxy", sum(col("vxy")).over(w))
    val theta = d(col("n") * col("sxy") - col("sx") * col("sy")) /
      d(col("n") * col("sxx") - col("sx") * col("sx"))
    val mx = d(col("sx")) / d(col("n"))
    v.select(col("variant"), col("n_users"),
        roundTo(theta, 6).as("theta"),
        roundTo(d(col("vy")) / d(col("n_users")), 4).as("mean_y"),
        roundTo(d(col("vy")) / d(col("n_users"))
          - theta * (d(col("vx")) / d(col("n_users")) - mx), 4).as("mean_y_cuped"))
      .orderBy("variant")
  }

  /** Epoch planner: given a literal token budget and per-source mix
    * weights, the per-source sampling plan (allocation, rate in basis
    * points, expected token yield) a training run reads before writing
    * its shards — Chinchilla-style data-mix budgeting as a query. ALL
    * integer arithmetic (weights are exact rationals k/210, rates in
    * bp, div throughout), so the plan is bit-reproducible; cost is one
    * token-counting scan + a sources-bounded aggregate.
    */
  def corpusEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000000L // target tokens per epoch (parameter literal)
    val perSrc = Tables.documents(spark, dir)
      .select(col("source"), size(wordTokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    // weight of srcK = (K+1)/210 — exact rational, Σ = 1 over 20 sources
    perSrc
      .withColumn("w_num", expr("cast(substr(source, 4) as long) + 1"))
      .withColumn("alloc_tokens", expr(s"($budget * w_num) div 210"))
      .withColumn("rate_bp",
        least(lit(10000L), expr("(alloc_tokens * 10000) div n_tokens")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("alloc_tokens"), col("rate_bp"),
        expr("(n_tokens * rate_bp) div 10000").as("expected_tokens"))
      .orderBy("source")
  }

  /** Composition drift, early vs late half: each event TYPE's share of
    * total volume in the two halves of the time range with the per-type
    * delta — the mix-shift companion to [[tableDrift]]'s within-type
    * value drift (a metric can move because values changed OR because
    * the mix changed; this separates the two). Same all-integer split
    * discipline; the 1-row midpoint aggregate broadcasts back (two
    * scans — a global window over raw events would single-partition
    * the table), totals as windows over the types-bounded counts.
    */
  def eventsMixShift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val mm = ev.agg((min("us") + max("us")).as("s")).select(expr("s div 2").as("mid_us"))
    val counts = ev.crossJoin(broadcast(mm))
      .groupBy("event_type")
      .agg(sum(when(col("us") <= col("mid_us"), 1L).otherwise(0L)).as("n_early"),
        sum(when(col("us") > col("mid_us"), 1L).otherwise(0L)).as("n_late"))
    val w = Window.partitionBy()
    counts
      .withColumn("t_early", sum("n_early").over(w))
      .withColumn("t_late", sum("n_late").over(w))
      .select(col("event_type"), col("n_early"), col("n_late"),
        roundTo(col("n_early").cast("double") / col("t_early").cast("double"), 4)
          .as("share_early"),
        roundTo(col("n_late").cast("double") / col("t_late").cast("double"), 4)
          .as("share_late"),
        roundTo(abs(col("n_early").cast("double") / col("t_early").cast("double")
          - col("n_late").cast("double") / col("t_late").cast("double")), 4).as("delta"))
      .orderBy("event_type")
  }

  /** Seasonality profile: per event_type, the day-of-week × hour-of-day
    * activity grid with each cell's share of the type's volume and its
    * ratio against the uniform-rate expectation (1/168) — the load-shape
    * fingerprint capacity planning and anomaly baselines read. One
    * partial-agg scan to a (types × 168)-bounded table; dow is computed
    * arithmetically from epoch days ((d + 4) mod 7, 0 = Sunday) so both
    * engines agree without calendar-API quirks; shares are single
    * divisions of exact longs.
    */
  def eventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        pmod(datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01"))) + 4, lit(7))
          .as("dow"),
        hour(col("ts")).as("hod"))
      .groupBy("event_type", "dow", "hod")
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("event_type").agg(sum("n").as("t"))
    cells.join(tot, "event_type")
      .select(col("event_type"), col("dow"), col("hod"), col("n"),
        roundTo(col("n").cast("double") / col("t").cast("double"), 4).as("share"),
        roundTo(col("n").cast("double") * lit(168.0) / col("t").cast("double"), 4)
          .as("ratio_vs_uniform"))
      .orderBy("event_type", "dow", "hod")
  }

  /** Cohort LTV: users bucketed by first-activity week; per
    * (cohort_week, week_offset) the active-user count, event count and
    * exact-cents revenue with the per-active-user average. Scale shape:
    * ONE user_id-keyed shuffle yields both the per-(user, week) cents
    * rollup and the per-user cohort min — the join reuses that
    * partitioning (co-partitioned, no extra exchange) — and the final
    * aggregate is (weeks × offsets)-bounded. Cents fixing
    * (floor(v·100 + 0.5) of the BINARY double) makes every revenue sum
    * an exact long in any aggregation order; doubles appear only in the
    * two final divisions, spelled identically in the oracle.
    */
  def eventsCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("w"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy("user_id", "w")
      .agg(count(lit(1)).as("n_ev"), sum("cents").as("cents"))
    // cohort min as a window over the (user, week) rollup: per-user
    // partitions are calendar-bounded (≤ #weeks rows), and the events
    // table is scanned ONCE — a join against a separately-aggregated
    // cohort table would re-scan and re-aggregate the raw events
    // (plan-guarded in PlanSpec)
    uw.withColumn("cw", min("w").over(Window.partitionBy("user_id")))
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("w"), col("cw")) / 7).cast("int").as("week_offset"),
        col("n_ev"), col("cents"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"),
        sum("n_ev").as("n_events"),
        roundTo(sum("cents").cast("double") / lit(100.0), 2).as("revenue"),
        roundTo(sum("cents").cast("double") / (count(lit(1)) * lit(100.0)), 2)
          .as("ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Per-source n-gram novelty — the "is this source adding anything
    * new" signal a corpus-mixing pipeline reads before upweighting a
    * source. Per source: distinct normalized char-8-gram count, the
    * subset of those grams that exist in NO other document corpus-wide
    * (global df = 1 ⇒ the gram's one document IS its owner source), and
    * the novelty ratio. Scale shape: both aggregations shuffle only
    * narrow (gram-hash, …) integer rows with map-side partial agg —
    * the same cost class as corpus_vocab — and the per-doc gram sets
    * are deduped inside the row (array_distinct) before any explode.
    */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(charShinglePoly(norm, 8))).as("g"))
    // global df per gram; a singleton gram's min(source) is its owner
    val byGram = sh.groupBy("g")
      .agg(count(lit(1)).as("df"), min("source").as("source"))
    val owned = byGram.where(col("df") === 1)
      .groupBy("source").agg(count(lit(1)).as("n_unique"))
    val totals = sh.select("source", "g").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_grams"))
    totals.join(owned, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        roundTo(coalesce(col("n_unique"), lit(0L)).cast("double")
          / col("n_grams").cast("double"), 4).as("novelty"))
      .orderBy("source")
  }

  /** Distribution drift, early vs late half: per event_type, the value
    * distribution over 20 equal-width cent bins in the first vs second
    * half of the table's time range, with per-bin share delta — the
    * data-quality check a pipeline runs before trusting week-over-week
    * aggregates. All decisions are integer: the split point is the
    * midpoint of [min, max] event micros, the bin is exact long math
    * over the type's cent range, and shares are single divisions of
    * exact longs (bit-identical in any engine). Scale shape: one scan;
    * the per-type [lo, hi] and global midpoint are tiny broadcast
    * aggregates; the final rollup is (types × 20)-bounded.
    */
  def tableDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"),
      unix_micros(col("ts")).as("us"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    // ONE stats pass yields both the per-type cent range and the global
    // time midpoint (a window over the types-bounded aggregate — never
    // a second events scan); the single broadcast table carries both,
    // so the events table is read exactly twice (plan-guarded)
    val range = ev.groupBy("event_type")
      .agg(min("cents").as("lo"), max("cents").as("hi"),
        min("us").as("mn"), max("us").as("mx"))
      .withColumn("mid_us", expr("(min(mn) OVER () + max(mx) OVER ()) div 2"))
      .select("event_type", "lo", "hi", "mid_us")
    val binned = ev.join(broadcast(range), "event_type")
      .select(col("event_type"),
        // exact long bin arithmetic (div, not double /) mirrors the oracle's //
        expr("cast(least(19L, ((cents - lo) * 20) div (hi - lo + 1)) as int)").as("bin"),
        (col("us") <= col("mid_us")).as("early"))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n_early"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n_late"))
    // per-type totals as windows over the (types × 20)-bounded bin
    // table — a totals self-join would recompute the whole binned
    // aggregate (and re-scan events) for the second leg
    val wt = Window.partitionBy("event_type")
    binned
      .withColumn("t_early", sum("n_early").over(wt))
      .withColumn("t_late", sum("n_late").over(wt))
      .select(col("event_type"), col("bin"), col("n_early"), col("n_late"),
        roundTo(col("n_early").cast("double") / col("t_early").cast("double"), 4)
          .as("share_early"),
        roundTo(col("n_late").cast("double") / col("t_late").cast("double"), 4)
          .as("share_late"),
        roundTo(abs(col("n_early").cast("double") / col("t_early").cast("double")
          - col("n_late").cast("double") / col("t_late").cast("double")), 4).as("delta"))
      .orderBy("event_type", "bin")
  }

  /** CUSUM mean-shift changepoint per event type over the hourly count
    * series — the "did the level change, and when" monitor next to
    * [[eventsBurst]]'s single-hour spikes and [[tableDrift]]'s
    * distribution deltas. The centered prefix deviation is kept exact:
    * dev_k = H·cum_k − k·T (H buckets, T total events, cum_k the prefix
    * count) is all-long arithmetic, and the cut is argmax |dev| with
    * ties to the earliest bucket — bit-identical in any engine; doubles
    * appear only in the reported shift/means. Scale shape: the raw scan
    * partial-aggregates to (types × hours) rows before any window, and
    * every window partition is time-span-bounded (≤ #hours rows per
    * type) — the events_autocorr bound.
    */
  def eventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
      .groupBy("event_type", "bucket_us").agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy("event_type").orderBy("bucket_us")
    val wAll = Window.partitionBy("event_type")
    counts
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("cum", sum("n").over(wOrd))
      .withColumn("h", count(lit(1)).over(wAll))
      .withColumn("t", sum("n").over(wAll))
      .withColumn("dev", col("h") * col("cum") - col("k") * col("t"))
      .withColumn("r", row_number().over(
        Window.partitionBy("event_type").orderBy(abs(col("dev")).desc, col("bucket_us"))))
      .where(col("r") === 1)
      .select(col("event_type"), col("bucket_us").as("cut_us"), col("dev"),
        roundTo(abs(col("dev")).cast("double")
          / (col("h").cast("double") * col("t").cast("double")), 6).as("shift"),
        roundTo(col("cum").cast("double") / col("k").cast("double"), 4).as("mean_before"),
        when(col("h") === col("k"), lit(null).cast("double"))
          .otherwise(roundTo((col("t") - col("cum")).cast("double")
            / (col("h") - col("k")).cast("double"), 4)).as("mean_after"))
      .orderBy("event_type")
  }

  /** Per-source readability profile — the complexity signals a quality
    * pipeline cuts on next to [[textQuality]]'s spam ratios: average
    * word length, long-word (≥ 7 chars) share, and vowel-group density
    * (the classic syllables-per-word proxy). Everything aggregates from
    * exact longs computed per document inside the row (higher-order
    * array functions over the token list — no explode, no per-token
    * shuffle rows), so the per-source sums are order-independent and
    * the only doubles are the three final divisions. One scan into a
    * sources-bounded agg.
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val toks = wordTokens(col("text"))
    val perDoc = Tables.documents(spark, dir).select(
      col("source"),
      size(toks).cast("long").as("n_words"),
      aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long")).as("n_wc"),
      size(filter(toks, w => length(w) >= 7)).cast("long").as("n_long"),
      regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("n_vg"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_wc").as("wc"), sum("n_long").as("nl"), sum("n_vg").as("nv"))
      .select(col("source"), col("n_docs"), col("n_words"),
        roundTo(col("wc").cast("double") / col("n_words").cast("double"), 4)
          .as("avg_word_len"),
        roundTo(col("nl").cast("double") / col("n_words").cast("double"), 4)
          .as("long_word_share"),
        roundTo(col("nv").cast("double") / col("n_words").cast("double"), 4)
          .as("syllables_per_word"))
      .orderBy("source")
  }

  /** Event-type co-usage matrix: for every type pair, how many users
    * touch both and the Jaccard overlap of their user sets — the
    * audience-overlap readout behind cross-sell and funnel design. The
    * per-user type set is collected in ONE user-keyed shuffle of narrow
    * distinct (user, type) rows (types-bounded per user), pairs are
    * enumerated inside the row (types² ≤ 25 here, and always
    * dimension-bounded), and the rollup output is types²-bounded — no
    * self-join re-scans the events table. Per-type user counts ride the
    * same pass: each user contributes its singleton types too, so ONE
    * aggregation yields both the pair and the marginal counts.
    */
  def eventsUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy("user_id").agg(sort_array(collect_set("event_type")).as("ts"))
    // (a, a) rows carry the marginals; (a, b) a < b rows the overlaps.
    // Marginals attach as windows over this types²-bounded table — a
    // join against a separately-built marginal table would recompute
    // the whole events scan once per join leg.
    val pairs = perUser.select(explode(col("ts")).as("a"), col("ts"))
      .select(col("a"), explode(col("ts")).as("b"))
      .where(col("a") <= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    pairs
      .withColumn("n_a", max(when(col("a") === col("b"), col("n")))
        .over(Window.partitionBy("a")))
      .withColumn("n_b", max(when(col("a") === col("b"), col("n")))
        .over(Window.partitionBy("b")))
      .where(col("a") < col("b"))
      .select(col("a").as("type_a"), col("b").as("type_b"),
        col("n_a"), col("n_b"), col("n").as("n_both"),
        roundTo(col("n").cast("double")
          / (col("n_a") + col("n_b") - col("n")).cast("double"), 4).as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** Weekly growth accounting — the full user-lifecycle ledger behind
    * [[eventsNewVsReturning]]: per epoch-week, users who are new (first
    * week), retained (also active the week before), resurrected (back
    * after a gap) and churned (active week w−1, absent week w). ONE
    * events scan: the distinct (user, week) table takes one user-keyed
    * exchange for the first/lag/lead windows (per-user partitions are
    * span-bounded in weeks), every activity row then emits its own
    * week's lifecycle flags AND its potential week+1 churn row in-row
    * (explode ×2), and the rollup is weeks-bounded. The trailing
    * phantom week is cut by a window over the weeks-bounded aggregate —
    * never a second scan.
    */
  def eventsChurn(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 604800000000").as("w"))
      .distinct()
    val byUser = Window.partitionBy("user_id")
    val ordered = byUser.orderBy("w")
    val c = uw
      .withColumn("fw", min("w").over(byUser))
      .withColumn("pw", lag("w", 1).over(ordered))
      .withColumn("nw", lead("w", 1).over(ordered))
    val rows = c.select(explode(array(
        struct(col("w").as("week"),
          when(col("w") === col("fw"), 1L).otherwise(0L).as("nn"),
          when(col("pw") === col("w") - 1, 1L).otherwise(0L).as("nr"),
          when(col("pw").isNotNull && col("pw") < col("w") - 1, 1L).otherwise(0L).as("ns"),
          lit(0L).as("nc")),
        struct((col("w") + 1).as("week"), lit(0L).as("nn"), lit(0L).as("nr"),
          lit(0L).as("ns"),
          when(col("nw").isNull || col("nw") > col("w") + 1, 1L).otherwise(0L).as("nc"))))
        .as("r"))
      .select(col("r.*"))
    rows.groupBy("week")
      .agg(sum("nn").as("n_new"), sum("nr").as("n_retained"),
        sum("ns").as("n_resurrected"), sum("nc").as("n_churned"))
      .withColumn("mx", max(when(col("n_new") + col("n_retained")
        + col("n_resurrected") > 0, col("week"))).over(Window.partitionBy()))
      .where(col("week") <= col("mx"))
      .select("week", "n_new", "n_retained", "n_resurrected", "n_churned")
      .orderBy("week")
  }

  /** Distinctive keywords per source: top-3 words by doc-frequency ×
    * idf (score = df_s · ln(N/df), the "what is this source about"
    * signal a corpus catalog shows next to [[corpusEntropy]]'s
    * diversity numbers). The idf factor is fixed to a 1e-6 integer once
    * per word, so ranking compares exact longs (ties → word) in both
    * engines. Per-doc word sets dedupe in-row before the explode; the
    * (source, word) agg and the global-df rollup both shuffle narrow
    * rows, and the top-3 cut rides a source-partitioned window over the
    * (sources × vocab) count table — the [[operators.Corpus.bigramLm]]
    * cost class, never a corpus-scale sort.
    */
  def corpusKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // corpus count stays IN-PLAN (1-row agg broadcast-cross-joined into
    // the scoring expression) — no eager driver-side count() action, the
    // query is one lazy DAG
    val nd = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val sw = docs
      .select(col("source"), explode(array_distinct(wordTokens(col("text")))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("df_s"))
    val wd = sw.groupBy("word").agg(sum("df_s").as("df"))
    val scored = sw.join(wd, "word").crossJoin(broadcast(nd))
      .withColumn("sf", col("df_s") *
        floor(log(col("n_docs") / col("df")) * lit(1e6) + lit(0.5)).cast("long"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("sf").desc, col("word"))))
      .where(col("rank") <= 3)
      .select(col("source"), col("rank"), col("word"), col("df_s"), col("df"),
        roundTo(col("sf").cast("double") / lit(1e6), 4).as("score"))
      .orderBy("source", "rank")
  }

  /** Repeat-purchase KPI: customers with ≥ 2 orders, their share, and
    * mean orders per customer — exact longs off one orders scan into a
    * per-customer partial agg; the two ratios are single divisions.
    */
  def ordersRepeatRate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_repeat"),
        sum("n").as("n_orders"))
      .select(col("n_customers"), col("n_repeat"),
        roundTo(col("n_repeat").cast("double") / col("n_customers").cast("double"), 4)
          .as("repeat_rate"),
        roundTo(col("n_orders").cast("double") / col("n_customers").cast("double"), 4)
          .as("orders_per_customer"))

  /** Quality-score decile boundaries — the distribution readout behind
    * choosing [[corpusQualityFilter]]'s threshold: the score at each
    * 10th percentile, by rank selection over the 4-dp score
    * distribution (≤ 10,001 distinct fixed values at ANY corpus size —
    * the ordered window is value-bounded by construction). Boundaries
    * assign via the [[eventsUserDecileMix]] broadcast pattern.
    */
  def corpusQualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dist = operators.TextAnalysis.langQuality(docs, "doc_id", "text")
      .select(floor(col("score") * lit(1e4) + lit(0.5)).cast("long").as("s4"))
      .groupBy("s4").agg(count(lit(1)).as("c"))
    dist
      .withColumn("cum", sum("c").over(Window.orderBy("s4")))
      .withColumn("n", sum("c").over(Window.partitionBy()))
      .crossJoin(spark.range(1, 10).select(col("id").as("decile")))
      .groupBy("decile")
      .agg(min(when(col("cum") >= expr("(n * decile * 10 + 99) div 100"), col("s4")))
        .as("b4"))
      .select(col("decile").cast("int").as("decile"),
        roundTo(col("b4").cast("double") / lit(1e4), 4).as("score_boundary"))
      .orderBy("decile")
  }

  /** Hapax share per source — the fraction of a source's vocabulary
    * that occurs exactly once (hapax legomena): high hapax share flags
    * OCR noise / tokenizer damage, low flags templated text. One
    * (source, word) count pass (≤ sources × vocab rows at any corpus
    * size), then a sources-bounded rollup of the counts-of-counts.
    */
  def corpusHapaxShare(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(wordTokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_hapax"),
        roundTo(col("n_hapax").cast("double") / col("n_types").cast("double"), 4)
          .as("hapax_share"))
      .orderBy("source")

  /** Sample-ratio-mismatch check for the id-parity A/B split — the
    * experiment-hygiene gate run before reading [[eventsAbtestCuped]]:
    * χ² = Σ(obs − n/2)²/(n/2) over the two variant user counts against
    * the 50/50 design, flagged at the 3.84 (p < 0.05, 1 dof) bound.
    * For two cells the statistic reduces to (a−b)²/n. Counts are exact
    * longs from one distinct-user pass; χ² is a single double expression
    * of those longs, identical in the oracle, and the flag comparison
    * happens on the exact integer cross-multiplied form
    * 100·(a−b)² > 384·n — all-long, no boundary ULP risk.
    */
  def eventsAbSrm(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir).select(col("user_id")).distinct()
    users.agg(
        sum(when(pmod(col("user_id"), lit(2L)) === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(pmod(col("user_id"), lit(2L)) === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        // χ² for 2 cells vs 50/50: (a−b)² / (a+b)
        roundTo((col("n_a") - col("n_b")).cast("double")
          * (col("n_a") - col("n_b")).cast("double")
          / (col("n_a") + col("n_b")).cast("double"), 4).as("chi2"),
        // exact integer comparison: 100·(a−b)² > 384·(a+b) ⇔ χ² > 3.84
        (lit(100L) * (col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))
          > lit(384L) * (col("n_a") + col("n_b"))).as("srm_flag"))
  }

  /** Index scan-economics report — rows a single standard query must
    * touch under each index layout (FLAT full scan; IVF nprobe-4 probed
    * clusters; LSH radius-1 probed buckets; PQ/BINARY full narrow-code
    * scan + 100-row exact re-rank) with the fraction of the corpus that
    * represents. The "what does probing BUY" companion to the recall
    * curves' "what does it COST in quality": together they are the
    * tuning story. ONE assignment pass computes every count (cluster
    * and bucket membership are conditional sums in the same 1-row agg);
    * probe sets derive from the fitted artifacts exactly as the
    * serving queries do, and the oracle re-derives them from the same
    * literals.
    */
  def annCostModel(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val planes = operators.LshIndex.planes(nBits = 4, dim = 64)
    val probedC = operators.IvfIndex.probes(queryVec(spark, dir, 2L), centroids, nprobe = 4)
    val probedB = operators.LshIndex.probeBuckets(
      operators.LshIndex.bucketOf(queryVec(spark, dir, 3L), planes), planes.length, radius = 1)
    val rerank = 100L
    emb.select(nearestCentroid(col("embedding"), centroids).as("cl"),
        operators.LshIndex.bucket(col("embedding"), planes).as("bk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cl").isin(probedC: _*), 1L).otherwise(0L)).as("n_ivf"),
        sum(when(col("bk").isin(probedB: _*), 1L).otherwise(0L)).as("n_lsh"))
      .select(posexplode(array(
        struct(lit("flat").as("index"), col("n").as("rows_scanned"),
          roundTo(lit(1.0), 4).as("frac")),
        struct(lit("ivf_nprobe4").as("index"), col("n_ivf").as("rows_scanned"),
          roundTo(col("n_ivf").cast("double") / col("n").cast("double"), 4).as("frac")),
        struct(lit("lsh_r1").as("index"), col("n_lsh").as("rows_scanned"),
          roundTo(col("n_lsh").cast("double") / col("n").cast("double"), 4).as("frac")),
        struct(lit("pq_adc").as("index"), (col("n") + rerank).as("rows_scanned"),
          roundTo((col("n") + rerank).cast("double") / col("n").cast("double"), 4).as("frac")),
        struct(lit("binary").as("index"), (col("n") + rerank).as("rows_scanned"),
          roundTo((col("n") + rerank).cast("double") / col("n").cast("double"), 4).as("frac"))))
        .as(Seq("i", "r")))
      .select(col("r.index"), col("r.rows_scanned"), col("r.frac"))
      .orderBy("index")
  }

  /** Tokenizer fertility per language (chars per BPE-ish token) — the
    * multilingual budgeting number: languages with high fertility pay
    * more context per character, which skews both cost and mixing
    * decisions. One scan (the BPE proxy is a codegen regexp count, the
    * char count is the stored column) into a langs-bounded agg; the
    * ratio is one double division of exact longs.
    */
  def corpusTokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))
          .cast("long").as("n_bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        sum("n_bpe").as("n_bpe"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_bpe"),
        roundTo(col("n_chars").cast("double") / col("n_bpe").cast("double"), 4)
          .as("chars_per_token"))
      .orderBy("lang")

  /** Does near-duplication correlate with low quality — mean quality
    * score of minhash-near-dup members vs unique documents, the
    * evidence behind "dedup first, then quality-filter" pipeline
    * ordering. Scores are the already-rounded 4-dp langQuality outputs
    * fixed to exact 1e-4 longs, so the group means are one division of
    * exact sums (order-independent); membership is the minhash pair
    * table's id set (narrow union + distinct). Cost = the minhash pass
    * + one quality pass.
    */
  def corpusQualityVsDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ordered = false: both pair columns land in a Union → distinct →
    // aggregate (EliminateSorts cannot prove order-irrelevance through
    // Union, so each Union side would re-sort the pair table).
    val pairs = dedupIdx(spark, dir).minhashPairs(minEst = 0.5, ordered = false)
    val dup = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    operators.TextAnalysis.langQuality(docs, "doc_id", "text")
      .select(col("doc_id"), floor(col("score") * 1e4 + lit(0.5)).cast("long").as("s4"))
      .join(dup.withColumn("d", lit(1L)), Seq("doc_id"), "left")
      .groupBy(coalesce(col("d"), lit(0L)).cast("int").as("is_dup"))
      .agg(count(lit(1)).as("n_docs"), sum("s4").as("s4"))
      .select(col("is_dup"), col("n_docs"),
        roundTo(col("s4").cast("double") / (col("n_docs").cast("double") * lit(1e4)), 4)
          .as("mean_quality"))
      .orderBy("is_dup")
  }

  /** Approximate-query-processing evidence: monthly revenue from a
    * deterministic 10% hash sample (tokenHash60 of the order key, ×10
    * scale-up) priced against the exact aggregate — the "is sampling
    * good enough for this dashboard" artifact. ONE scan: exact and
    * sampled sums are two conditional aggregates in the same
    * months-bounded rollup; the sample membership is a map-side hash,
    * so the estimate is bit-reproducible (no RNG state).
    */
  def lineitemSampleEval(spark: SparkSession, dir: String): DataFrame = {
    val u4 = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long"))
    val inSample = pmod(tokenHash60(concat(lit("smp:"),
      col("l_orderkey").cast("string"), lit(":"), col("l_linenumber").cast("string"))),
      lit(10L)) === 0
    Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        u4.as("u4"), inSample.as("s"))
      .groupBy("month")
      .agg(sum("u4").as("exact_u4"),
        sum(when(col("s"), col("u4")).otherwise(0L)).as("smp_u4"),
        sum(when(col("s"), 1L).otherwise(0L)).as("n_sampled"),
        count(lit(1)).as("n_rows"))
      .select(col("month"), col("n_rows"), col("n_sampled"),
        roundTo(col("exact_u4").cast("double") / lit(10000.0), 2).as("exact_rev"),
        roundTo(col("smp_u4").cast("double") * lit(10.0) / lit(10000.0), 2).as("est_rev"),
        roundTo(abs(col("smp_u4").cast("double") * lit(10.0)
          - col("exact_u4").cast("double")) / col("exact_u4").cast("double"), 4)
          .as("rel_err"))
      .orderBy("month")
  }

  /** Padding-waste report: for context budgets 128 / 256 / 512, the
    * fraction of padded-slot tokens wasted when each document is padded
    * into ⌈n/B⌉ bins — the number that decides the packing strategy
    * next to [[packSequences]]. All-integer per-doc arithmetic, one
    * tokenize scan into a 3-row agg (budgets are literals).
    */
  def corpusPadWaste(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(size(wordTokens(col("text"))).cast("long").as("n"))
    val budgets = Seq(128L, 256L, 512L)
    val aggs = budgets.flatMap { b =>
      Seq(sum(expr(s"((n + $b - 1) div $b) * $b")).as(s"slots_$b"),
        sum(col("n")).as(s"toks_$b"))
    }
    docs.agg(aggs.head, aggs.tail: _*)
      .select(posexplode(array(budgets.map(b => struct(lit(b).as("budget"),
        col(s"toks_$b").as("n_tokens"), col(s"slots_$b").as("n_slots"),
        roundTo((col(s"slots_$b") - col(s"toks_$b")).cast("double")
          / col(s"slots_$b").cast("double"), 4).as("waste"))): _*)).as(Seq("i", "r")))
      .select(col("r.budget"), col("r.n_tokens"), col("r.n_slots"), col("r.waste"))
      .orderBy("budget")
  }

  /** Do heavy users behave differently — event-type mix by user
    * activity decile. Deciles are value-based and fully distributed:
    * boundaries come from rank selection over the activity-COUNT
    * distribution (bounded by distinct counts — the [[eventsGapStats]]
    * pattern, never a global user sort), each user's decile is 1 +
    * #boundaries strictly below its count (a 9-row broadcast
    * cross-join, ties land in the lower decile deterministically), and
    * the mix rolls up to a (10 × types)-bounded table with share
    * windows over it. One events scan: the (user, type) count table is
    * checkpointed and feeds both the per-user totals and the mix join.
    */
  def eventsUserDecileMix(spark: SparkSession, dir: String): DataFrame = {
    // user-scale, fault-tolerant (DISK_ONLY keeps lineage) — and primed
    // EAGERLY: the bounds broadcast subtree runs on a separate driver
    // thread and raced the lazy cache, recomputing the events
    // aggregation a second time (measured 14.0 s + 8.2 s of task time
    // for the same pass at sf0.1/local[32]).
    val utc = operators.Caching.primed(
      Tables.events(spark, dir).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c")), StorageLevel.DISK_ONLY)
    val pu = utc.groupBy("user_id").agg(sum("c").as("n"))
    val dist = pu.groupBy("n").agg(count(lit(1)).as("cn"))
    val t = dist.withColumn("cum", sum("cn").over(Window.orderBy("n")))
      .withColumn("tot", sum("cn").over(Window.partitionBy()))
    val bounds = t.crossJoin(spark.range(1, 10).select(col("id").as("d")))
      .groupBy("d")
      .agg(min(when(col("cum") >= expr("(tot * d * 10 + 99) div 100"), col("n"))).as("b"))
    val pd = pu.crossJoin(broadcast(bounds))
      .groupBy("user_id")
      .agg((lit(1L) + sum(when(col("n") > col("b"), 1L).otherwise(0L))).as("decile"))
    utc.join(pd, "user_id")
      .groupBy("decile", "event_type").agg(sum("c").as("n_events"))
      .withColumn("t", sum("n_events").over(Window.partitionBy("decile")))
      .select(col("decile").cast("int").as("decile"), col("event_type"), col("n_events"),
        roundTo(col("n_events").cast("double") / col("t").cast("double"), 4).as("share"))
      .orderBy("decile", "event_type")
  }

  /** The canonical daily KPI table (events, DAU, new users, revenue) —
    * the one query every product pipeline materializes nightly. ONE
    * narrow projection of the events scan is checkpointed and feeds all
    * three aggregation trees (day rollup, distinct-user DAU, first-day
    * new users); every join after that is on the days-bounded key.
    */
  def eventsDailyKpis(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .persist(StorageLevel.DISK_ONLY) // corpus-scale projection: lazy + fault-tolerant
    val roll = base.groupBy("day").agg(count(lit(1)).as("n_events"),
      roundTo(sum("cents").cast("double") / lit(100.0), 2).as("revenue"))
    val ud = base.select("day", "user_id").distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val newu = ud.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new_users"))
    roll.join(dau, "day").join(newu, Seq("day"), "left")
      .select(col("day"), col("n_events"), col("dau"),
        coalesce(col("n_new_users"), lit(0L)).as("n_new_users"), col("revenue"))
      .orderBy("day")
  }

  /** Concurrent-session load curve: active 30-min-gap sessions per
    * hour — the capacity-planning readout behind [[eventsSessionize]].
    * Session bounds reuse the same per-user cumsum; each session then
    * explodes into the hour buckets it overlaps (map-side, bounded by
    * session duration — gap-closed sessions are short by construction)
    * and the rollup is hours-bounded. No interval self-join, no spine
    * join: the stabbing count IS the explode + count.
    */
  def eventsConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    val gapUs = 30L * 60 * 1000000
    val hourUs = 3600L * 1000000L
    val sessions = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
      .withColumn("brk",
        when(lag(col("t_us"), 1).over(byUser).isNull ||
             col("t_us") - lag(col("t_us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("t_us").as("lo"), max("t_us").as("hi"))
    sessions
      .select(explode(sequence(expr(s"lo div $hourUs"), expr(s"hi div $hourUs"))).as("hb"))
      .groupBy("hb").agg(count(lit(1)).as("n_active"))
      .select((col("hb") * hourUs).as("hour_us"), col("n_active"))
      .orderBy("hour_us")
  }

  /** Revenue-concentration report per nation: supplier HHI
    * (Herfindahl–Hirschman index) and top-supplier share — the market
    * lens on the TPC-H side. Kept exact where it matters: HHI =
    * Σ revᵢ² / (Σ revᵢ)² over exact 1e-4-dollar DECIMAL sums (order-
    * independent), so both ratios are single double divisions of exact
    * integers. One lineitem scan; supplier/nation dims broadcast;
    * rollups (suppliers, nations)-bounded.
    */
  def supplierConcentration(spark: SparkSession, dir: String): DataFrame = {
    val u4 = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long"))
    val li = Tables.lineitem(spark, dir).select(col("l_suppkey"), u4.as("u4"))
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey", "l_suppkey").agg(sum("u4").as("rev"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(dec(col("rev"))).as("t"),
        sum(dec(col("rev")) * dec(col("rev"))).as("sq"),
        max("rev").as("mx"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_suppliers"),
        roundTo(col("t").cast("double") / lit(10000.0), 2).as("revenue"),
        roundTo(col("sq").cast("double") / (col("t") * col("t")).cast("double"), 4)
          .as("hhi"),
        roundTo(col("mx").cast("double") / col("t").cast("double"), 4).as("top_share"))
      .orderBy("nation")
  }

  /** KMV (k-minimum-values) distinct-user sketch per event type, priced
    * against the exact count — the third distinct-count trade-off next
    * to [[eventsHll]] (fixed registers) and the exact aggregate: keep
    * the 64 smallest 60-bit hashes per type (the [[operators.Stats
    * .stratifiedSample]] bounded heap — O(types × 64) shuffle), estimate
    * (k−1)·2⁶⁰/h₍ₖ₎, degrade to exact when fewer than 64 distinct
    * values exist. Hashes are the deterministic md5-60 tokenHash60, so
    * the kept set — and therefore the estimate — is bit-identical in
    * the oracle.
    */
  def eventsKmv(spark: SparkSession, dir: String): DataFrame = {
    // the distinct table feeds both the sketch and the exact leg —
    // materialize once
    val ut = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .persist(StorageLevel.DISK_ONLY) // user-scale distinct: lazy + fault-tolerant
    val hc = tokenHash60(concat(lit("kmv:"), col("user_id").cast("string")))
    val picks = operators.Stats.stratifiedSample(ut, "event_type", "user_id", "user_id",
      hc, k = 64)
    val s = picks
      .select(col("stratum").as("event_type"),
        tokenHash60(concat(lit("kmv:"), col("id").cast("string"))).as("h"))
      .groupBy("event_type").agg(count(lit(1)).as("n_kept"), max("h").as("hmax"))
    val x = ut.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    x.join(s, "event_type")
      .withColumn("est", when(col("n_kept") === 64,
        lit(63.0) * lit(1152921504606846976.0) / col("hmax").cast("double"))
        .otherwise(col("n_kept").cast("double")))
      .select(col("event_type"), col("n_exact"), col("n_kept"),
        roundTo(col("est"), 1).as("kmv_est"),
        roundTo(abs(col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 4).as("rel_err"))
      .orderBy("event_type")
  }

  /** Declarative data-quality rule audit (the dbt-tests shape): each
    * rule is a predicate over one table, the report is violation counts
    * — what a lakehouse CI gate runs before publishing a partition.
    * ONE scan per audited table (all of a table's rules are conditional
    * sums in a single aggregation); output is rules-bounded.
    */
  def tableRuleAudit(spark: SparkSession, dir: String): DataFrame = {
    def viol(c: Column): Column = sum(when(!c, 1L).otherwise(0L))
    val li = Tables.lineitem(spark, dir).agg(
      viol(col("l_quantity").between(1, 50)).as("lineitem_quantity_range"),
      viol(col("l_discount").between(0.0, 0.10)).as("lineitem_discount_range"),
      viol(col("l_tax") >= 0.0).as("lineitem_tax_nonneg"),
      viol(col("l_extendedprice") > 0.0).as("lineitem_price_positive"),
      viol(col("l_returnflag").isin("A", "N", "R")).as("lineitem_returnflag_domain"))
    val ord = Tables.orders(spark, dir).agg(
      viol(col("o_totalprice") > 0.0).as("orders_totalprice_positive"),
      viol(col("o_orderstatus").isin("F", "O", "P")).as("orders_status_domain"),
      viol(col("o_orderdate").isNotNull).as("orders_date_not_null"))
    val ev = Tables.events(spark, dir).agg(
      viol(col("value") >= 0.0).as("events_value_nonneg"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("events_id_duplicates"))
    def unpivot(df: DataFrame): DataFrame = {
      val cols = df.columns
      df.select(posexplode(array(cols.map(c => struct(lit(c).as("rule"),
        col(c).cast("long").as("n_violations"))): _*)).as(Seq("i", "r")))
        .select(col("r.rule"), col("r.n_violations"))
    }
    unpivot(li).union(unpivot(ord)).union(unpivot(ev)).orderBy("rule")
  }

  /** Token-length histogram per source in power-of-2 buckets — the
    * sequence-length profile a packing/sharding planner reads before
    * choosing context budgets. Bucket = 2^⌊log2 n⌋ by integer bit
    * length (no floating log), one scan into a (sources × ~12)-bounded
    * agg, shares as windows over that bounded table.
    */
  def corpusLengthHist(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), size(wordTokens(col("text"))).cast("long").as("n_tok"))
      // 2^floor(log2 n) via bit length (integer shift, no floating
      // log/pow): for n >= 1, bucket = 1 << (bits(n) - 1)
      .withColumn("bucket", when(col("n_tok") <= 0, 0L)
        .otherwise(expr("cast(shiftleft(1L, length(bin(n_tok)) - 1) as long)")))
    docs.groupBy("source", "bucket").agg(count(lit(1)).as("n_docs"))
      .withColumn("t", sum("n_docs").over(Window.partitionBy("source")))
      .select(col("source"), col("bucket"), col("n_docs"),
        roundTo(col("n_docs").cast("double") / col("t").cast("double"), 4).as("share"))
      .orderBy("source", "bucket")
  }

  /** Embedding-space label-noise detector: for each label, how often a
    * vector's within-cluster 3-NN neighbors carry the SAME label (mean
    * agreement in exact thirds, plus the count of fully-disagreeing
    * vectors — the mislabeled-row shortlist signal used in data
    * curation). Reuses the [[knnJoin]] graph (cluster-blocked, O(n·k)
    * edges); the label join is co-partitioned on vec_id and the rollup
    * is labels-bounded. Agreement is all-integer (matches per vector ÷
    * k as a single final division), so the report is bit-reproducible.
    */
  def knnLabelConsistency(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val edges = knnGraph(spark, dir)
    val lab = emb.select(col("vec_id"), col("label"))
    val perVec = edges
      .join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .groupBy("q_id", "q_label")
      .agg(count(lit(1)).as("n_nb"),
        sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L)).as("n_same"))
    perVec.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum("n_same").as("n_same"), sum("n_nb").as("n_nb"),
        sum(when(col("n_same") === 0, 1L).otherwise(0L)).as("n_all_disagree"))
      .select(col("label"), col("n_vectors"),
        roundTo(col("n_same").cast("double") / col("n_nb").cast("double"), 4)
          .as("agreement"),
        col("n_all_disagree"))
      .orderBy("label")
  }

  /** Exact per-type value percentiles (p50/p90/p99 in cents) by rank
    * selection over the VALUE DISTRIBUTION — the [[eventsGapStats]]
    * pattern on the money column: one corpus-scale (type, cents) count
    * aggregation, cumulative windows over the distinct-value table
    * (bounded by value cardinality, never a per-row sort), percentile =
    * first value whose cumulative count reaches ⌈n·q/100⌉.
    */
  def eventsValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy("event_type").orderBy("cents")
    val perType = Window.partitionBy("event_type")
    def pos(q: Int): Column = expr(s"(n * $q + 99) div 100")
    counts
      .withColumn("cum", sum("c").over(byVal))
      .withColumn("n", sum("c").over(perType))
      .groupBy("event_type")
      .agg(max("n").as("n_events"),
        min(when(col("cum") >= pos(50), col("cents"))).as("p50_cents"),
        min(when(col("cum") >= pos(90), col("cents"))).as("p90_cents"),
        min(when(col("cum") >= pos(99), col("cents"))).as("p99_cents"))
      .orderBy("event_type")
  }

  /** Boilerplate phrase report — the top-20 word-3-grams by document
    * frequency with their doc share: the repeated-header/footer signal
    * a CCNet-style cleaning pipeline scrubs, and the opposite tail of
    * [[textNgramNovelty]]'s df = 1 uniqueness. Per-doc gram sets dedupe
    * in-row before the explode, the df rollup shuffles narrow gram
    * rows with map-side combine, and the cut is a TakeOrdered — never
    * a global gram sort.
    */
  def corpusBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // corpus count stays IN-PLAN: the 1-row agg joins the 20-row top
    // table after the TakeOrdered cut — no eager count() action
    val nd = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    docs.select(explode(array_distinct(
        wordShingleStrings(wordTokens(col("text")), 3))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram")).limit(20)
      .crossJoin(broadcast(nd))
      .select(col("gram"), col("df"),
        roundTo(col("df").cast("double") / col("n_docs"), 4).as("doc_share"))
      .orderBy(col("df").desc, col("gram"))
  }

  /** Bot-suspicion leaderboard: the 20 users whose inter-event cadence
    * is most machine-regular (lowest coefficient of variation of gap
    * seconds, ≥ 8 gaps) with their rate stats — the traffic-cleaning
    * pass an events pipeline runs before any behavioral metric. The
    * moments are exact (gap seconds by integer div, Σ and Σ² in
    * DECIMAL(38,0)), cv = √(n·Q − S²)/S is computed from those exact
    * integers with an identical tree in the oracle, and the cut is a
    * TakeOrdered on the 1e-9-fixed cv — never a global sort of users.
    * Per-user lag windows follow the [[eventsGapStats]] bound.
    */
  def eventsBotScore(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
      .withColumn("prev_t", lag("t", 1).over(byUser))
      .where(col("prev_t").isNotNull)
      .select(col("user_id"), expr("(t - prev_t) div 1000000").as("gap_s"))
    val m = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_g"),
        sum("gap_s").cast("decimal(38,0)").as("s"),
        sum(col("gap_s").cast("decimal(38,0)") * col("gap_s").cast("decimal(38,0)")).as("q"))
      // s > 0 guards cv's division: a user whose ≥8 gaps are ALL zero
      // seconds (single-second burst) would yield cv = 0/0 = NaN, which
      // Spark's non-ANSI long cast maps to 0 while DuckDB errors — an
      // engine divergence, and a meaningless cadence score anyway
      .where(col("n_g") >= 8 && col("s") > 0)
    val cv = sqrt((col("n_g").cast("decimal(38,0)") * col("q") - col("s") * col("s"))
      .cast("double")) / col("s").cast("double")
    m.select(col("user_id"), (col("n_g") + 1).as("n_events"), col("n_g").as("n_gaps"),
        roundTo(col("s").cast("double") / col("n_g").cast("double"), 2).as("mean_gap_s"),
        roundTo(cv, 4).as("cv"),
        floor(cv * lit(1e9) + lit(0.5)).cast("long").as("cvk"))
      .orderBy("cvk", "user_id").limit(20)
      .drop("cvk")
      .orderBy("cv", "user_id")
  }

  /** k-NN graph hubness histogram — the index-health artifact ANN
    * papers watch (a hub-dominated graph degrades recall and spreads
    * load unevenly): distribution of in-degrees over the
    * [[knnJoin]] graph's edges, including the never-referenced
    * (in-degree 0) vectors. Edge volume is the graph's own O(n·k);
    * the in-degree rollup shuffles narrow (vec_id) rows and the
    * histogram + share windows run on the in-degree-bounded table.
    */
  def knnHubness(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val edges = knnGraph(spark, dir)
    val indeg = edges.groupBy(col("n_id").as("vec_id")).agg(count(lit(1)).as("c"))
    emb.select("vec_id").join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("c"), lit(0L)).as("indeg"))
      .groupBy("indeg").agg(count(lit(1)).as("n_vectors"))
      .withColumn("tot", sum("n_vectors").over(Window.partitionBy()))
      .select(col("indeg"), col("n_vectors"),
        roundTo(col("n_vectors").cast("double") / col("tot").cast("double"), 4).as("share"))
      .orderBy("indeg")
  }

  /** Token-budget shard plan — the writer-side layout step every
    * pretraining pipeline runs after [[packSequences]]: assign each
    * document (in stable doc_id order) its exclusive token-offset
    * `start` and the 1000-token shard it opens in, so downstream
    * writers emit fixed-budget files deterministically. The global
    * prefix sum is the textbook two-level distributed scan (Blelloch):
    * within-bucket cumsums run in 64-doc windows (bounded), bucket
    * offsets come from a window over the 64×-reduced bucket table, and
    * the two join back co-partitioned on the bucket key. The bucket
    * window is the recursion point — each extra level buys another 64×,
    * so three levels cover 10¹² docs with ≤ 4096-row windows; nothing
    * ever globally sorts the corpus itself.
    */
  def corpusShardPlan(spark: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    // tokenize ONCE: the narrow (doc_id, n_tok, bk) table feeds both
    // the within-bucket windows and the bucket-offset leg
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(wordTokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("bk", expr("doc_id div 64"))
      .persist(StorageLevel.DISK_ONLY) // doc-scale narrow table: lazy + fault-tolerant
    val within = docs.withColumn("cum_in",
      sum("n_tok").over(Window.partitionBy("bk").orderBy("doc_id")))
    val offsets = docs.groupBy("bk").agg(sum("n_tok").as("bt"))
      .withColumn("off", coalesce(sum("bt").over(
        Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bk", "off")
    within.join(offsets, "bk")
      .select(col("doc_id"), col("n_tok").as("n_tokens"),
        (col("off") + col("cum_in") - col("n_tok")).as("start"),
        expr(s"(off + cum_in - n_tok) div $budget").as("shard"))
      .orderBy("doc_id")
  }

  /** Embedding outliers — the "mis-embedded row" quality filter an
    * ingest pipeline runs before indexing: vectors whose distance to
    * their assigned IVF centroid exceeds the cluster mean by 2σ (high
    * side — the distance distribution's right tail is thin, so 2σ is
    * the useful operating point). Membership is the all-integer
    * [[operators.Stats.sigmaOutliers]]
    * rule over 1e-6-fixed distances — (n·x − S)² > 4(n·Q − S²) in exact
    * DECIMAL — so the flag set is bit-reproducible; the oracle
    * re-derives assignment and the same rule from the centroid
    * literals. Two map passes (assignment, then flag against the
    * K-bounded broadcast moments) — the standard two-pass z-score.
    */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val withD = emb
      .select(col("vec_id"), nearestCentroid(col("embedding"), centroids).as("cluster"),
        col("embedding"))
      .withColumn("d", vecL2(col("embedding"),
        element_at(typedLit(centroids), col("cluster") + 1)))
      .select("vec_id", "cluster", "d")
    operators.Stats.sigmaOutliers(withD, "cluster", "d", k = 2, scale = 6, highOnly = true)
      .select(col("vec_id"), col("cluster"), roundTo(col("d"), 4).as("dist"))
      .orderBy("vec_id")
  }

  /** PQ code-utilization entropy — the codebook-health twin of
    * [[pqDistortion]]: per subspace, how many of the ksub codes the
    * corpus actually uses and the entropy of the code distribution
    * (a starved codebook wastes its bits; H → ln ksub is ideal).
    * Assignment reuses the fitted codebook literals; entropy follows
    * the [[corpusEntropy]] discipline — each ln c fixed to a 1e-6
    * integer once per distinct count, DECIMAL weighted sum, double only
    * in the final expression. One map pass into an (m × ksub)-bounded
    * agg.
    */
  def pqCodeEntropy(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = operators.PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val dsub = books.head.head.length
    val codes = books.zipWithIndex.map { case (book, j) =>
      nearestCentroid(slice(col("embedding"), j * dsub + 1, dsub), book).as(s"c$j")
    }
    emb.select(codes.toSeq: _*)
      .select(posexplode(array((0 until books.length).map(j => col(s"c$j")): _*))
        .as(Seq("j", "code")))
      .groupBy("j", "code").agg(count(lit(1)).as("c"))
      .groupBy("j")
      .agg(sum("c").as("n"), count(lit(1)).as("n_used"),
        sum(col("c").cast("decimal(18,0)") *
          floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
            .cast("decimal(18,0)")).as("s_fixed"))
      .select(col("j"), col("n_used"),
        roundTo(log(col("n").cast("double")) -
          col("s_fixed").cast("double") / (col("n").cast("double") * lit(1e6)), 4)
          .as("entropy_nats"),
        roundTo(col("n_used").cast("double") / lit(books.head.length.toDouble), 4)
          .as("utilization"))
      .orderBy("j")
  }

  /** Per-label L2-norm profile of the embedding corpus — the "are my
    * vectors normalized" readout behind choosing cosine vs IP (a
    * unit-norm corpus makes them equivalent; reference:
    * index_factory.rs:41-48 MetricType choice) and the sanity gate
    * before [[annSq8]]'s data-derived bounds. The squared norm is an
    * EXACT long (Σ xf² over 1e-6-fixed components, all in-row codegen
    * — no explode, no per-dimension shuffle); the norm fixes to a
    * 1e-6 integer via the correctly-rounded IEEE sqrt, so per-label
    * moments sum exact integers in any order. One map pass into a
    * labels-bounded agg.
    */
  def vectorNormProfile(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val ss = expr(
      """aggregate(transform(embedding,
        |  x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint)),
        |  cast(0 as bigint), (a, v) -> a + v * v)""".stripMargin)
    Tables.embeddings(spark, dir)
      .select(col("label"),
        floor(sqrt(ss.cast("double")) + lit(0.5)).cast("long").as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(dec(col("nrm"))).as("s"),
        min("nrm").as("mn"), max("nrm").as("mx"))
      .select(col("label"), col("n_vectors"),
        roundTo(col("s").cast("double") / (col("n_vectors").cast("double") * lit(1e6)), 6)
          .as("mean_norm"),
        roundTo(col("mn").cast("double") / lit(1e6), 6).as("min_norm"),
        roundTo(col("mx").cast("double") / lit(1e6), 6).as("max_norm"))
      .orderBy("label")
  }

  /** Gini coefficient of per-user event counts — the standard
    * inequality measure of activity concentration, the single-number
    * companion to [[ordersPareto]]'s ABC bands and
    * [[eventsSkewProfile]]'s hot keys. Exact grouped-data form: users
    * collapse to one row per DISTINCT activity count (the
    * [[eventsGapStats]] value-bounded shape), and for a group with
    * value c, size k, preceding cumulative s the sorted-rank sum
    * 2·Σ i·x_i contributes c·k·(2s + k + 1) — an exact DECIMAL(38,0)
    * product. Gini = T/(n·S) − (n+1)/n with doubles only in that
    * final expression, written identically in the oracle. The ordered
    * window's input is bounded by the number of distinct counts, never
    * users.
    */
  def eventsGini(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val dist = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("cnt"))
    // cardinality bound: one row per distinct per-user count — the
    // single-partition window never sees user-scale input
    val byC = Window.orderBy("c")
    dist
      .withColumn("s", coalesce(sum("cnt").over(
        byC.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(
        (dec(col("c")) * dec(col("cnt")) *
          (lit(2) * dec(col("s")) + dec(col("cnt")) + lit(1))).as("t2"),
        (dec(col("c")) * dec(col("cnt"))).as("x"),
        col("cnt"))
      .agg(sum("t2").as("t2"), sum("x").as("sx"), sum("cnt").as("n"))
      .select(col("n").cast("long").as("n_users"),
        col("sx").cast("long").as("n_events"),
        roundTo(col("t2").cast("double")
            / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 6)
          .as("gini"))
  }

  /** Collocation mining — the top-20 adjacent word bigrams by pointwise
    * mutual information (c₁₂ ≥ 5): the multi-word-expression detector a
    * tokenizer-training pipeline runs before merging frequent pairs
    * (the [[corpusBpeStep]] criterion with association instead of raw
    * frequency). PMI = ln(c₁₂·N / (c₁·c₂)) over the bigram table's own
    * left/right marginals, fixed to a 1e-6 integer so the top-20 cut
    * compares exact longs (TakeOrdered, never a global sort). The
    * bigram count table is persisted once (DISK_ONLY — lazy,
    * fault-tolerant) and feeds all three marginal legs, so the corpus
    * tokenizes exactly once; every join after it is vocab-bounded.
    */
  def corpusCollocations(spark: SparkSession, dir: String): DataFrame = {
    // primed: the marginal legs and the 1-row total are independent
    // subtrees (tot is broadcast-built on its own driver thread) — a
    // lazy persist let them race the cache and re-tokenize the corpus.
    val pairs = operators.Caching.primed(Tables.documents(spark, dir)
      .select(explode(wordShingleStrings(wordTokens(col("text")), 2)).as("gm"))
      .select(substring_index(col("gm"), " ", 1).as("w1"),
        substring_index(col("gm"), " ", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")),
      StorageLevel.DISK_ONLY)
    val left = pairs.groupBy("w1").agg(sum("c12").as("c1"))
    val right = pairs.groupBy("w2").agg(sum("c12").as("c2"))
    val tot = pairs.agg(sum("c12").cast("double").as("nn"))
    val pmif = floor(log(col("c12").cast("double") * col("nn")
        / (col("c1").cast("double") * col("c2").cast("double"))) * lit(1e6) + lit(0.5))
      .cast("long")
    pairs.where(col("c12") >= 5)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"), pmif.as("pmif"))
      .orderBy(col("pmif").desc, col("w1"), col("w2")).limit(20)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        roundTo(col("pmif").cast("double") / lit(1e6), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
  }

  /** MinHash estimator calibration — see
    * [[operators.Dedup.minhashEstErrorFromIndex]]: per estimate decile, the gap
    * between the 32-perm signature estimate and the exact
    * distinct-shingle Jaccard over the LSH candidates.
    */
  def dedupMinhashEstError(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstErrorFromIndex(dedupIdx(spark, dir),
      Tables.documents(spark, dir), "doc_id", "text")

  /** k-NN graph reciprocity — the fraction of directed edges whose
    * reverse edge also exists (mutual nearest neighbors). A low
    * reciprocity marks hub domination (the asymmetry twin of
    * [[knnHubness]]'s in-degree histogram) and is the standard
    * pre-filter for reciprocal-NN clustering. The graph is the same
    * IVF-blocked [[knnJoin]] build; the mutuality check is ONE
    * co-partitioned self-equi-join on the O(n·k) edge list keyed
    * (q_id, n_id) — never a vector-space pass — and the edge table is
    * persisted so the graph builds once for both legs.
    */
  def knnMutual(spark: SparkSession, dir: String): DataFrame = {
    // both legs read the written-once graph artifact — no persist needed
    val g = knnGraph(spark, dir).select(col("q_id"), col("n_id"))
    val stats = g.agg(count(lit(1)).as("n_edges"), countDistinct("q_id").as("n_nodes"))
    val mu = g.join(g.select(col("q_id").as("n_id"), col("n_id").as("q_id")), Seq("q_id", "n_id"))
      .where(col("q_id") < col("n_id"))
      .agg(count(lit(1)).as("n_mutual_pairs"))
    stats.crossJoin(mu)
      .select(col("n_nodes"), col("n_edges"), col("n_mutual_pairs"),
        roundTo(col("n_mutual_pairs").cast("double") * lit(2.0)
          / col("n_edges").cast("double"), 4).as("reciprocity"))
  }

  /** Mutual-kNN component discovery — the cluster-finding step a
    * curation pipeline runs on top of the k-NN graph (semantic groups =
    * connected components of the RECIPROCAL edge set, a standard
    * density-robust clustering primitive): mutual edges from one
    * co-partitioned self-join of the written-once [[knnGraph]] artifact,
    * components via [[operators.Dedup.resolveClusters]]' pointer-jumping
    * CC (mutual-edge volume ≤ the O(n·k) graph, orders below the
    * corpus), then a component-size histogram — (max component)-bounded
    * output. Oracle: same graph + recursive-CTE closure.
    */
  def knnComponents(spark: SparkSession, dir: String): DataFrame =
    // the component map is written once next to the graph (the
    // clusters05 pattern — iterative CC is index-build cost, not query
    // latency); the histogram reads the artifact
    materialized(spark, dir, "knncomp") {
      val emb = Tables.embeddings(spark, dir)
      val g = knnGraph(spark, dir).select(col("q_id"), col("n_id"))
      val mutual = g
        .join(g.select(col("q_id").as("n_id"), col("n_id").as("q_id")), Seq("q_id", "n_id"))
        .where(col("q_id") < col("n_id"))
        .select(col("q_id").as("a_id"), col("n_id").as("b_id"))
      Dedup.resolveClusters(emb.select(col("vec_id")), "vec_id", mutual)
    }
      .groupBy("canonical_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_components"))
      .orderBy("sz")

  /** Per-dimension clipping bounds (p1 / p50 / p99 of each embedding
    * dimension) — the robust-range ANALYZE primitive a scalar
    * quantizer trains from when min/max ([[vectorStats]]) is outlier-
    * poisoned. Rank selection over the per-dimension distribution of
    * 1e-6-fixed component values: the ordered windows run on the
    * (dim × distinct-fixed-value)-bounded count table, never on raw
    * component rows — the [[eventsValueQuantiles]] shape with dim as
    * the stratum.
    */
  def vectorQuantileClip(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * lit(1e6) + lit(0.5)).cast("long").as("xf"))
      .groupBy("dim", "xf").agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy("dim").orderBy("xf")
    val perDim = Window.partitionBy("dim")
    def pos(q: Int): Column = expr(s"(n * $q + 99) div 100")
    counts
      .withColumn("cum", sum("c").over(byVal))
      .withColumn("n", sum("c").over(perDim))
      .groupBy("dim")
      .agg(max("n").as("n"),
        min(when(col("cum") >= pos(1), col("xf"))).as("q01"),
        min(when(col("cum") >= pos(50), col("xf"))).as("q50"),
        min(when(col("cum") >= pos(99), col("xf"))).as("q99"))
      .select(col("dim"), col("n"),
        roundTo(col("q01").cast("double") / lit(1e6), 6).as("p01"),
        roundTo(col("q50").cast("double") / lit(1e6), 6).as("p50"),
        roundTo(col("q99").cast("double") / lit(1e6), 6).as("p99"))
      .orderBy("dim")
  }

  /** Duplicate-cluster size histogram — the shape readout over
    * [[dedupClusters]]'s connected components: how many clusters of
    * each size, their document mass and share. The corpus-scale work
    * is the CC itself; both rollups here shuffle narrow canonical-id
    * rows, and the share joins a 1-row in-plan total (no eager
    * action). The long tail of large clusters is the boilerplate /
    * template signal a cleaning pipeline inspects first.
    */
  def dedupClusterHist(spark: SparkSession, dir: String): DataFrame = {
    val asg = dedupClusters(spark, dir)
    val h = asg.groupBy("canonical_id").agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
    val tot = h.agg(sum(col("sz") * col("n_clusters")).cast("double").as("tot"))
    h.crossJoin(broadcast(tot))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"),
        roundTo((col("sz") * col("n_clusters")).cast("double") / col("tot"), 4)
          .as("doc_share"))
      .orderBy("cluster_size")
  }

  /** Markov entropy rate per source state — how predictable the next
    * event type is given the current one (H → 0: deterministic flows;
    * H → ln k: noise). Transition counts come from the same per-user
    * lag pass as [[eventsMarkov]]; each row entropy follows the
    * [[corpusEntropy]] discipline (ln c fixed to a 1e-6 integer once
    * per distinct count, DECIMAL weighted sum, doubles only in the
    * final H = ln n − Σc·ln c / n). The agg is (types²)-bounded.
    */
  def eventsEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy("prev_type")
      .agg(sum("c").as("n"), count(lit(1)).as("n_next"),
        sum(col("c").cast("decimal(18,0)") *
          floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
            .cast("decimal(18,0)")).as("sfx"))
      .select(col("prev_type"), col("n").as("n_trans"), col("n_next"),
        roundTo(log(col("n").cast("double")) -
          col("sfx").cast("double") / (col("n").cast("double") * lit(1e6)), 4)
          .as("entropy_nats"))
      .orderBy("prev_type")
  }

  /** Power-law exponent of the user-activity distribution — the
    * Clauset–Shalizi–Newman continuous-MLE approximation at xmin = 1:
    * α ≈ 1 + n / Σ ln(x/(xmin − ½)) = 1 + n / Σ ln(2x). The tail
    * exponent tells capacity planning how heavy the heavy users are
    * (the generative twin of [[eventsGini]]'s inequality number).
    * Each ln(2x) fixes to a 1e-6 integer once per DISTINCT count, so
    * the Σ is an exact DECIMAL sum over the value-bounded distribution
    * table; one user-keyed agg is the only corpus-scale pass.
    */
  def eventsPowerLaw(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
      .groupBy("x").agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt").as("n"), max("x").as("x_max"),
        sum(dec(col("cnt")) *
          dec(floor(log(lit(2.0) * col("x").cast("double")) * lit(1e6) + lit(0.5))))
          .as("s"))
      .select(col("n").as("n_users"), col("x_max"),
        roundTo(lit(1.0) +
          col("n").cast("double") * lit(1e6) / col("s").cast("double"), 4).as("alpha"))
  }

  /** LSH band-bucket health profile — see
    * [[operators.Dedup.lshBucketProfileFromIndex]]: per band, bucket count, max
    * and mean occupancy, and the candidate-pair volume Σ sz·(sz−1)/2
    * the banding join will generate. The proof-by-measurement that the
    * dedup shuffle is content-bounded, next to
    * [[annIvfImbalance]]'s cluster-balance readout.
    */
  def dedupLshBucketProfile(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshBucketProfileFromIndex(dedupIdx(spark, dir))

  /** Order-to-ship lag SLA percentiles per order priority — the
    * p50/p90/p99 companion to [[q12ShipLag]]'s bucketed counts (an SLA
    * is a tail statement, not a mean). Rank selection over the
    * (priority × distinct-lag-days) count table — the
    * [[eventsValueQuantiles]] shape; the only corpus-scale work is the
    * orderkey-co-partitioned join and one partial agg.
    */
  def ordersShipSla(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000").as("ship_day"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority"),
      expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("order_day"))
    val counts = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        (col("ship_day") - col("order_day")).as("lag_days"))
      .groupBy("priority", "lag_days").agg(count(lit(1)).as("c"))
    val byLag = Window.partitionBy("priority").orderBy("lag_days")
    val perP = Window.partitionBy("priority")
    def pos(q: Int): Column = expr(s"(n * $q + 99) div 100")
    counts
      .withColumn("cum", sum("c").over(byLag))
      .withColumn("n", sum("c").over(perP))
      .groupBy("priority")
      .agg(max("n").as("n_lines"),
        min(when(col("cum") >= pos(50), col("lag_days"))).as("p50_days"),
        min(when(col("cum") >= pos(90), col("lag_days"))).as("p90_days"),
        min(when(col("cum") >= pos(99), col("lag_days"))).as("p99_days"))
      .orderBy("priority")
  }

  /** Source × predicted-language composition matrix — the corpus
    * catalog readout over [[textLangid]]'s stopword-vote heuristic:
    * per source, how many docs land in each language and their share.
    * One tokenize+vote map pass into a (sources × 5)-bounded agg;
    * shares ride a source-partitioned window on that bounded table.
    */
  def corpusLanguageMix(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langMix(Tables.documents(spark, dir), "source", "text")

  /** Exact-duplicate vector summary — the cheap first dedup pass an
    * embedding pipeline runs before any LSH ([[dedupEmbedding]] finds
    * the near-dups this one skips). Vectors compare by their
    * 1e-6-fixed integer arrays (bit-stable, no float equality), the
    * group-by key is the fixed array itself, and the output is one
    * summary row — distinct count, duplicated mass, removable rows,
    * dup rate.
    */
  def vectorDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint))")
        .as("fa"))
      .groupBy("fa").agg(count(lit(1)).as("n"))
      .agg(sum("n").as("n_vectors"), count(lit(1)).as("n_distinct"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_in_dup_groups"),
        sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("n_removable"))
      .select(col("n_vectors"), col("n_distinct"), col("n_in_dup_groups"),
        col("n_removable"),
        roundTo(col("n_removable").cast("double") / col("n_vectors").cast("double"), 6)
          .as("dup_rate"))

  /** Session-shape SLA: p50/p90/p99 of session length (events) and
    * duration (seconds) over the same 30-minute-gap sessions as
    * [[eventsSessionize]] — the tail statement behind timeout and
    * capacity choices. The session table persists once (DISK_ONLY) and
    * feeds both metric legs; each percentile is rank selection over a
    * value-bounded distribution (distinct lengths / distinct
    * durations), never a session sort.
    */
  def eventsSessionStats(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 30L * 60 * 1000000
    val sess = Tables.events(spark, dir)
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("brk",
        when(lag(col("t_us"), 1).over(byUser).isNull ||
             col("t_us") - lag(col("t_us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("brk").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("len"),
        expr("(max(t_us) - min(t_us)) div 1000000").as("dur"))
      // primed: the two pct legs are independent subtrees of one union
      // plan whose stages launch together — a lazy persist let them
      // race the cache and re-run the sessionize window twice.
      .transform(df => operators.Caching.primed(df, StorageLevel.DISK_ONLY))
    def pct(vc: String, name: String): DataFrame = {
      val cnt = sess.groupBy(col(vc).as("v")).agg(count(lit(1)).as("c"))
      // cardinality bound: one row per distinct value of the metric
      val byV = Window.orderBy("v")
      cnt.withColumn("cum", sum("c").over(byV))
        .withColumn("n", sum("c").over(Window.partitionBy()))
        .agg(max("n").as("n_sessions"),
          min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("v"))).as("p50"),
          min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("v"))).as("p90"),
          min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("v"))).as("p99"))
        .select(lit(name).as("metric"), col("n_sessions"),
          col("p50"), col("p90"), col("p99"))
    }
    pct("len", "n_events").unionAll(pct("dur", "duration_s")).orderBy("metric")
  }

  /** Precision@k curve (k ∈ {1,3,5,10}) of BM25 retrieval against the
    * embedding-neighborhood relevance set — the cut-depth knob next to
    * [[retrievalRecallEval]]'s recall@10 and [[retrievalNdcg]]'s
    * graded gain, completing the IR metric family. Same two legs
    * (postings pruned to query vocab; bounded-heap exact k-NN truth);
    * the curve itself is a ≤ 50-row × 4 cut rollup.
    */
  def retrievalPrecisionCurve(spark: SparkSession, dir: String): DataFrame = {
    val qids = Seq(7L, 107L, 207L, 307L, 407L)
    val docs = Tables.documents(spark, dir)
    val qterms = docs.where(col("doc_id").isin(qids: _*))
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(wordTokens(col("text")))).as("term"))
    val bm = operators.Retrieval.bm25TopKBatchFromIndex(textPostings(spark, dir),
      textDocLengths(spark, dir), qterms, k = 10, excludeQueryDoc = true)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // leave-self-out truth, excluded BEFORE the top-10 cut (see
    // retrievalRecallEval)
    val truth = Knn.searchBatch(emb, "vec_id", "embedding", queries, "q_id", "q_vec",
        k = 10, metric = "l2", excludeSelf = true)
      .select(col("q_id").as("t_q"), col("n_id").as("t_id"))
    val hits = bm.join(truth, col("q_id") === col("t_q") && col("doc_id") === col("t_id"))
      .select(col("rank"))
    val ks = spark.range(0, 4)
      .select(element_at(typedLit(Seq(1, 3, 5, 10)), col("id").cast("int") + 1).as("k"))
    val perK = hits.crossJoin(broadcast(ks)).where(col("rank") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_hits"))
    ks.join(perK, Seq("k"), "left")
      .select(col("k").cast("int").as("k"), lit(qids.length.toLong).as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        roundTo(coalesce(col("n_hits"), lit(0L)).cast("double")
          / (col("k") * lit(qids.length)).cast("double"), 4).as("p_at_k"))
      .orderBy("k")
  }

  /** Sampled pair-distance histogram — the distance-concentration
    * readout ANN planning starts from (a corpus whose pair distances
    * concentrate gives LSH/IVF nothing to bucket on). One
    * deterministic partner per vector (hash mod n stepped past self —
    * the [[corpus_contrastive_pairs]] draw), so the sample is exactly
    * n pairs via one co-partitioned self-equi-join — never n². L2
    * fixes to a 1e-6 integer; bins are data-derived over the fixed
    * range (20 integer-arithmetic buckets, [[tableDrift]] formula);
    * the pair table persists once and feeds the range agg + the
    * histogram.
    */
  def vectorPairSample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // gated count: the partner join on raw vec_id silently loses pairs
    // if the id space is sparse — fail loudly instead (r7 finding #2)
    val nn = operators.Stats.denseIdCount(emb, "vec_id", "n", "vector_pair_sample")
    val pr = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(broadcast(nn))
      .withColumn("h", pmod(tokenHash60(concat(lit("pair:"), col("a").cast("string"))), col("n")))
      .select(col("a"), col("va"),
        when(col("h") === col("a"), pmod(col("h") + 1, col("n"))).otherwise(col("h")).as("b"))
    // primed: the 1-row range agg is broadcast-built on its own driver
    // thread — a lazy persist let it race the main histogram scan and
    // re-run the pair join + L2 mass.
    val d = operators.Caching.primed(
      pr.join(emb.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
        .select(floor(vecL2(col("va"), col("vb")) * lit(1e6) + lit(0.5)).cast("long").as("df")),
      StorageLevel.DISK_ONLY)
    val r = d.agg(min("df").as("lo"), max("df").as("hi"), count(lit(1)).as("np"))
    d.crossJoin(broadcast(r))
      .select(expr("least(19, ((df - lo) * 20) div (hi - lo + 1))")
        .cast("int").as("bin"), col("np"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"), max("np").as("np"))
      .select(col("bin"), col("n_pairs"),
        roundTo(col("n_pairs").cast("double") / col("np").cast("double"), 4).as("share"))
      .orderBy("bin")
  }

  /** SimHash hamming-distance histogram over ALL band candidates — see
    * [[operators.Dedup.simhashHammingHistFromIndex]]: the data-driven tuning
    * evidence for the maxHamming knob.
    */
  def dedupSimhashHammingHist(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashHammingHistFromIndex(dedupIdx(spark, dir))

  /** Range-search count curve — neighbors within L2 radius r ∈
    * {0.75, 1.0, 1.25, 1.5, 1.75} of the standard query, in ONE scan
    * (conditional sums in a 1-row agg): the radius knob's measured
    * cost, completing the knob-curve family for [[knnRange]] the way
    * [[annRecallCurve]] does for nprobe. Thresholds compare the same
    * IEEE double both engines compute.
    */
  def knnRangeCountCurve(spark: SparkSession, dir: String): DataFrame = {
    val s = vecL2(col("embedding"), typedLit(queryVec(spark, dir, 4L)))
    Tables.embeddings(spark, dir)
      .select(s.as("d"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("d") <= 0.75, 1L).otherwise(0L)).as("n_r075"),
        sum(when(col("d") <= 1.0, 1L).otherwise(0L)).as("n_r100"),
        sum(when(col("d") <= 1.25, 1L).otherwise(0L)).as("n_r125"),
        sum(when(col("d") <= 1.5, 1L).otherwise(0L)).as("n_r150"),
        sum(when(col("d") <= 1.75, 1L).otherwise(0L)).as("n_r175"))
  }

  /** Second-order Markov transitions — top-3 next types per
    * (prev2, prev1) context with the context's MLE probability: the
    * sequence-depth knob next to [[eventsMarkov]] (does one more step
    * of history buy prediction?). Two lag windows in the same per-user
    * pass; the rollup and the top-3 window are (types³)-bounded.
    */
  def eventsMarkov2(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("p1", lag(col("event_type"), 1).over(byUser))
      .withColumn("p2", lag(col("event_type"), 2).over(byUser))
      .where(col("p2").isNotNull)
      .groupBy(col("p2").as("prev2"), col("p1").as("prev1"),
        col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_ctx", sum("n").over(Window.partitionBy("prev2", "prev1")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("prev2", "prev1").orderBy(col("n").desc, col("next_type"))))
      .where(col("rank") <= 3)
      .select(col("prev2"), col("prev1"), col("rank"), col("next_type"),
        col("n"), col("n_ctx"), roundTo(col("n") / col("n_ctx"), 4).as("p"))
      .orderBy("prev2", "prev1", "rank")
  }

  /** Detector-agreement report — do MinHash (est ≥ 0.5) and SimHash
    * (hamming ≤ 8) flag the SAME near-dup pairs? Pair-set sizes,
    * intersection, union and pair-set Jaccard in one row: high
    * agreement justifies running only the cheaper detector at scale;
    * low agreement means they see different duplicate classes and the
    * pipeline needs both. Both pair tables are the already-bounded
    * outputs of their banded pipelines; the overlap is one
    * co-partitioned full-outer join on (a_id, b_id).
    */
  def dedupDetectorOverlap(spark: SparkSession, dir: String): DataFrame = {
    val idx = dedupIdx(spark, dir)
    val m = idx.minhashPairs(minEst = 0.5)
      .select(col("a_id"), col("b_id"), lit(1).as("in_m"))
    val s = idx.simhashPairs(maxHamming = 8)
      .select(col("a_id"), col("b_id"), lit(1).as("in_s"))
    m.join(s, Seq("a_id", "b_id"), "full_outer")
      .agg(sum(coalesce(col("in_m"), lit(0))).cast("long").as("n_minhash"),
        sum(coalesce(col("in_s"), lit(0))).cast("long").as("n_simhash"),
        sum(when(col("in_m").isNotNull && col("in_s").isNotNull, 1L).otherwise(0L))
          .as("n_both"),
        count(lit(1)).as("n_union"))
      .select(col("n_minhash"), col("n_simhash"), col("n_both"), col("n_union"),
        roundTo(col("n_both").cast("double") / col("n_union").cast("double"), 4)
          .as("pair_jaccard"))
  }

  /** Code-vs-prose detector — the filter an LLM corpus runs to route
    * code into its own pipeline: per source, documents whose
    * code-symbol density ({};()=<> per char, 1e-6-fixed by integer
    * division) exceeds 2%, with the rate and mean density. One regex
    * count per doc (codegen, no UDF), (sources)-bounded agg.
    */
  def textCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val rf = expr("(regexp_count(text, '[{}();=<>]') * 1000000) div length(text)")
    Tables.documents(spark, dir)
      .where(length(col("text")) > 0)
      .select(col("source"), rf.as("rf"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rf") >= 20000, 1L).otherwise(0L)).as("n_code_like"),
        sum(dec(col("rf"))).as("srf"))
      .select(col("source"), col("n_docs"), col("n_code_like"),
        roundTo(col("n_code_like").cast("double") / col("n_docs").cast("double"), 4)
          .as("code_rate"),
        roundTo(col("srf").cast("double") / (col("n_docs").cast("double") * lit(1e6)), 6)
          .as("mean_symbol_density"))
      .orderBy("source")
  }

  /** Vocabulary growth curve (Heaps' law readout) — new distinct words
    * introduced per doc-id decile and the cumulative vocabulary: how
    * fast the corpus stops surprising the tokenizer. Each word
    * contributes ONE row (its minimum decile — a word-keyed min agg
    * over in-row-deduped doc words); the curve itself is a 10-row
    * cumulative window. Deciles come from an in-plan doc count, so the
    * query is one lazy DAG.
    */
  def corpusVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val firstSeen = docs
      .select(col("doc_id"), explode(array_distinct(wordTokens(col("text")))).as("word"))
      .crossJoin(broadcast(nd))
      .select(expr("least(9, (doc_id * 10) div n_docs)").as("decile"), col("word"))
      .groupBy("word").agg(min("decile").as("decile"))
    val spine = spark.range(0, 10).select(col("id").as("decile"))
    spine.join(firstSeen.groupBy("decile").agg(count(lit(1)).as("nw")), Seq("decile"), "left")
      .select(col("decile"), coalesce(col("nw"), lit(0L)).as("n_new_words"))
      .withColumn("cum_vocab", sum("n_new_words").over(
        Window.orderBy("decile") // 10-row window
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile").cast("int").as("decile"), col("n_new_words"), col("cum_vocab"))
      .orderBy("decile")
  }

  /** The IVF tradeoff table — cost AND quality per nprobe in one
    * artifact: rows scanned (probed-cluster population), corpus
    * fraction, and recall@10, for nprobe ∈ {1,2,4,8,16}. This is the
    * table an operator actually tunes from; [[annRecallCurve]] gives
    * what probing BUYS, [[annCostModel]] what it COSTS at one setting —
    * this joins them across the knob. One assignment pass builds the
    * K-bounded population table (persisted); each recall leg is the
    * standard pruned scan + bounded top-k.
    */
  def annTradeoffTable(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val centroids = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    val qv = queryVec(spark, dir, 4L)
    val exact = operators.Knn.searchExact(emb, "vec_id", "embedding", qv, 10, "l2")
      .select(col("id"))
    val pops = emb.select(nearestCentroid(col("embedding"), centroids).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("pop"))
      .persist(StorageLevel.MEMORY_AND_DISK) // K rows
    val tot = emb.agg(count(lit(1)).as("n"))
    Seq(1, 2, 4, 8, 16).map { np =>
      val probed = operators.IvfIndex.probes(qv, centroids, np)
      val scanned = pops.where(col("cluster").isin(probed: _*))
        .agg(coalesce(sum("pop"), lit(0L)).as("rows_scanned"))
      val approx = operators.IvfIndex.search(emb, "vec_id", "embedding", centroids,
        qv, k = 10, nprobe = np, metric = "l2").select(col("id"))
      val rec = exact.join(approx, "id").agg(count(lit(1)).as("n_hits"))
      scanned.crossJoin(tot).crossJoin(rec)
        .select(lit(np).as("nprobe"), col("rows_scanned"),
          roundTo(col("rows_scanned").cast("double") / col("n").cast("double"), 4)
            .as("frac"),
          col("n_hits"), roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }.reduce(_ unionAll _).orderBy("nprobe")
  }

  /** Longest consecutive-day activity streaks — the top-20 users by
    * their best run of distinct active days (gaps-and-islands via
    * day − row_number, the engagement artifact next to
    * [[eventsDauMau]]'s stickiness). Per-user windows are bounded by
    * the calendar span; the leaderboard cut is a TakeOrdered on exact
    * integers, never a global user sort.
    */
  def eventsStreaks(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
      .distinct()
    val byUser = Window.partitionBy("user_id").orderBy("day")
    ud.withColumn("grp", col("day") - row_number().over(byUser))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("streak_days"), min("day").as("start_day"))
      .groupBy("user_id")
      // best streak, earliest start on ties — one struct max, no per-user sort
      .agg(max(struct(col("streak_days"), (-col("start_day")).as("ns"))).as("b"))
      .select(col("user_id"), col("b.streak_days").as("streak_days"),
        (-col("b.ns")).as("start_day"))
      .orderBy(col("streak_days").desc, col("user_id")).limit(20)
      .orderBy(col("streak_days").desc, col("user_id"))
  }

  /** Length-vs-norm alignment — is the embedder length-sensitive?
    * Pearson correlation between document length (chars) and embedding
    * L2 norm over the id-aligned docs∩embeddings slice, from exact
    * DECIMAL(38,0) moments gathered in ONE co-partitioned join + 1-row
    * agg ([[tableCorr]] discipline; doubles only in the final r). A
    * strong correlation warns that cosine vs IP choice materially
    * changes ranking.
    */
  def corpusNormAlignment(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val ss = expr(
      """aggregate(transform(embedding,
        |  x -> cast(floor(cast(x as double) * 1000000.0 + 0.5) as bigint)),
        |  cast(0 as bigint), (a, v) -> a + v * v)""".stripMargin)
    val nrm = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        floor(sqrt(ss.cast("double")) + lit(0.5)).cast("long").as("y"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars").as("x"))
    val m = docs.join(nrm, col("doc_id") === col("vec_id"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    m.select(col("n"),
      roundTo((dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double")
        / sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double")
          * (dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double")), 4)
        .as("r"))
  }

  /** The corpus data card — the one-row summary a dataset catalog
    * shows: document/char/token/vocab counts, English share, mean
    * quality. Per-doc scores come from the fused one-scan
    * [[operators.TextAnalysis.langQuality]] pass and fix to 1e-4
    * integers before the exact-sum mean; the three 1-row legs
    * cross-join in-plan (no driver actions).
    */
  def corpusReportCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lq = TextAnalysis.langQuality(docs, "doc_id", "text")
      .select(col("lang_pred"),
        floor(col("score") * lit(1e4) + lit(0.5)).cast("long").as("s4"))
    val met = lq.agg(count(lit(1)).as("n_docs"),
      sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(col("s4").cast("decimal(38,0)")).as("ss"))
    val tok = docs
      .select(size(wordTokens(col("text"))).cast("long").as("nt"), col("n_chars"))
      .agg(sum("nt").as("n_tokens"), sum("n_chars").as("n_chars"))
    val voc = docs.select(explode(array_distinct(wordTokens(col("text")))).as("w"))
      .agg(countDistinct("w").as("vocab"))
    met.crossJoin(tok).crossJoin(voc).select(
      col("n_docs"), col("n_chars"), col("n_tokens"), col("vocab"),
      roundTo(col("n_en").cast("double") / col("n_docs").cast("double"), 4)
        .as("en_share"),
      roundTo(col("ss").cast("double") / (col("n_docs").cast("double") * lit(1e4)), 4)
        .as("mean_quality"))
  }

  /** Label purity per IVF cluster — does the geometric partition agree
    * with the semantic labels? Majority label, its share, and cluster
    * population per cluster: the classification-side index-health
    * artifact next to [[annIvfImbalance]]'s load view. One assignment
    * pass into a (K × labels)-bounded agg; the majority pick is a
    * window over that bounded table.
    */
  def vectorClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = operators.IvfIndex.fitCached(emb, "embedding", k = 16)
    emb.select(nearestCentroid(col("embedding"), cents).as("cluster"), col("label"))
      .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("cluster")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster").orderBy(col("c").desc, col("label"))))
      .where(col("rk") === 1)
      .select(col("cluster"), col("label").as("majority_label"),
        col("n").as("n_vectors"), col("c").as("n_majority"),
        roundTo(col("c").cast("double") / col("n").cast("double"), 4).as("purity"))
      .orderBy("cluster")
  }

  /** Event-type affinity — which activities co-occur in the same
    * users, with lift vs independence (the [[ordersBasketAffinity]]
    * shape at user grain). The distinct (user, type) table persists
    * once and feeds the marginals AND the pair self-join; each user
    * contributes ≤ C(types, 2) pairs, so the pair volume is
    * user-linear at any scale, and the output is types²-bounded.
    */
  def eventsTypeAffinity(spark: SparkSession, dir: String): DataFrame = {
    // primed: the n_users broadcast, the marginals and the two
    // self-join sides scan this frame from independent subtrees — a
    // lazy persist let them race the cache and re-run the events
    // distinct several times.
    val ut = operators.Caching.primed(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct(),
      StorageLevel.DISK_ONLY)
    val nu = ut.select("user_id").distinct().agg(count(lit(1)).as("n_users"))
    val ct = ut.groupBy("event_type").agg(count(lit(1)).as("cnt"))
    ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), "user_id")
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      .join(ct.select(col("event_type").as("type_a"), col("cnt").as("n_a")), "type_a")
      .join(ct.select(col("event_type").as("type_b"), col("cnt").as("n_b")), "type_b")
      .crossJoin(broadcast(nu))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        roundTo((col("n_both") * col("n_users")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 4).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** Benford first-digit audit on order totals — the fraud/synthetic-
    * data smoke test an ingest pipeline runs on monetary columns:
    * observed first-significant-digit shares vs the Benford expectation
    * log10(1 + 1/d). Prices fix to exact cents before the string-head
    * digit extraction (no float log10 on data), shares and expectations
    * both fix to 1e-4 integers so the deviation is an exact integer
    * subtraction. One scan, one 9-row aggregate.
    */
  def ordersBenford(spark: SparkSession, dir: String): DataFrame = {
    // digit ∈ [1, 9] gate: totals ≤ 0 would otherwise diverge across
    // engines (digit '0' → log10(∞): Spark's non-ANSI cast wraps,
    // DuckDB errors; '-' → null vs error) — the s > 0 cv-guard
    // precedent, mirrored in the oracle.
    val d = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .where(col("digit").between(1, 9))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = d.agg(sum("n").as("n_orders"))
    val share4 = floor(col("n").cast("double") / col("n_orders").cast("double")
      * lit(1e4) + lit(0.5)).cast("long")
    val exp4 = floor(log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double"))
      * lit(1e4) + lit(0.5)).cast("long")
    d.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (share4.cast("double") / 1e4).as("share"),
        (exp4.cast("double") / 1e4).as("benford"),
        ((share4 - exp4).cast("double") / 1e4).as("dev"))
      .orderBy("digit")
  }

  /** l-diversity audit over the [[customerKAnonymity]] quasi-identifier
    * groups — the companion privacy gate: within each (mktsegment,
    * nation, $1000-balance) group, how many DISTINCT values of the
    * sensitive attribute (the last key digit stands in for a real
    * sensitive field) appear? Groups with l = 1 leak the attribute for
    * every member even when k-anonymous. Output: the l histogram.
    * Plan: one partial-aggregated group-by bounded by the QI domain,
    * then a rollup on that bounded table.
    */
  def customerLDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        expr("cast(floor(c_acctbal / 1000.0) as long)").as("bal_k"),
        (col("c_custkey") % 10).as("sens"))
      .groupBy("c_mktsegment", "c_nationkey", "bal_k")
      .agg(count(lit(1)).as("g"), count_distinct(col("sens")).as("l"))
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"), sum("g").as("n_customers"))
      .orderBy("l")

  /** Population-stability-index drift between the first and second half
    * of the event-time range, per event type — the distribution-shift
    * monitor a feature pipeline runs between training snapshots. The
    * split point is the exact integer midpoint of (min, max) micros,
    * computed in-plan; Laplace-smoothed shares are single divisions of
    * exact integers; ln(p/q) is taken on ONE double division of exact
    * cross-products and fixed to 1e-6 integers before the (p−q) product
    * (the [[Corpus.lmScore]] cross-engine-exactness recipe). Everything
    * after the one narrow scan is bounded by the event-type domain.
    */
  def eventsPsi(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
    val mm = ev.agg(min("t").as("tmin"), max("t").as("tmax"))
      .select(expr("(tmin + tmax) div 2").as("mid"))
    val cnt = ev.crossJoin(broadcast(mm))
      .groupBy("event_type")
      .agg(sum(when(col("t") <= col("mid"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("t") > col("mid"), 1L).otherwise(0L)).as("n_b"))
    psiFromCounts(cnt)
  }

  /** The PSI formula over a (event_type, n_a, n_b) count table — shared
    * by [[eventsPsi]] and the streaming drift monitor
    * ([[streaming.EventStream.runningTypeCounts]] twin), so the
    * monitor's emitted report IS the batch artifact.
    */
  private[graft] def psiFromCounts(cnt: DataFrame): DataFrame = {
    val tot = cnt.agg(sum("n_a").as("tot_a"), sum("n_b").as("tot_b"),
      count(lit(1)).as("n_types"))
    val p = (col("n_a") + 1).cast("double") / (col("tot_a") + col("n_types")).cast("double")
    val q = (col("n_b") + 1).cast("double") / (col("tot_b") + col("n_types")).cast("double")
    val l6 = floor(log(((col("n_a") + 1) * (col("tot_b") + col("n_types"))).cast("double")
      / ((col("n_b") + 1) * (col("tot_a") + col("n_types"))).cast("double"))
      * lit(1e6) + lit(0.5)).cast("long")
    cnt.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        roundTo(p, 4).as("p_early"), roundTo(q, 4).as("p_late"),
        roundTo((p - q) * (l6.cast("double") / 1e6), 4).as("psi_contrib"))
      .orderBy("event_type")
  }

  /** Canonical-document selection — the step after duplicate detection
    * in a curation pipeline: within each minhash near-dup cluster of
    * ≥ 2 members, KEEP the highest-quality member (ties break to the
    * lowest doc_id) instead of the arbitrary min-id canonical. Quality
    * fixes to 1e-4 integers; the keeper is picked by a max(struct)
    * partial aggregate over cluster-bounded groups — no window, no
    * per-cluster sort. Cluster resolution and pair mining reuse the
    * [[dedupClusters]] scale path.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cl = dedupIdx(spark, dir).clusters
      .select("doc_id", "canonical_id")
    val q = TextAnalysis.quality(docs, "doc_id", "text")
      .select(col("doc_id"),
        floor(col("score") * lit(1e4) + lit(0.5)).cast("long").as("s4"))
    cl.join(q, "doc_id")
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("n_members"),
        sum(col("s4").cast("decimal(38,0)")).as("ssum"),
        max(struct(col("s4"), (-col("doc_id")).as("nid"))).as("best"))
      .where(col("n_members") >= 2)
      .select(col("canonical_id"), (-col("best.nid")).as("keep_doc_id"),
        col("n_members"),
        (col("best.s4").cast("double") / 1e4).as("keep_score"),
        roundTo(col("ssum").cast("double")
          / (col("n_members").cast("double") * lit(1e4)), 4).as("mean_score"))
      .orderBy("canonical_id")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-bigram distribution looks like a
    * TARGET domain (here: the corpus's own high-quality slice, fixed
    * score ≥ 0.75) versus the raw corpus. Features are bigrams hashed
    * into 256 buckets; per-bucket log-likelihood ratios use Laplace-
    * smoothed counts, computed as ln of ONE double division of exact
    * integer cross-products and fixed to 1e-6 ints; per-doc scores are
    * then exact integer dot products. Scale shape: one tokenizer pass,
    * per-doc bucket counts collapse BEFORE any join, the 256-row LLR
    * model broadcasts, and nothing is ever corpus × corpus.
    */
  def corpusDsir(spark: SparkSession, dir: String): DataFrame =
    dsirScores(spark, dir)
      .select(col("doc_id"), col("n_bigrams"),
        roundTo(col("llr_raw"), 4).as("dsir_llr"))
      .orderBy("doc_id")

  /** Shared DSIR scoring chain: (doc_id, n_bigrams, llr_raw) with
    * llr_raw = ss / (n_bigrams · 10⁶) — one double division of the
    * exact integer dot product, unrounded so [[corpusDsir]] and
    * [[corpusDsirSample]] agree bit-for-bit with their oracles.
    * Written once per corpus (the [[materialized]] pattern): both
    * consumers read the artifact; doubles round-trip bit-exact.
    */
  private def dsirScores(spark: SparkSession, dir: String): DataFrame =
    materialized(spark, dir, "dsir")(dsirScoresFresh(spark, dir))

  private[graft] def dsirScoresFresh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = TextAnalysis.langQuality(docs, "doc_id", "text")
      .select(col("doc_id"),
        (floor(col("score") * lit(1e4) + lit(0.5)).cast("long") >= 7500L).as("is_t"))
    val db = docs
      .select(col("doc_id"),
        explode(wordShingleStrings(wordTokens(col("text")), 2)).as("gm"))
      .select(col("doc_id"), pmod(tokenHash60(col("gm")), lit(256L)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("nb"))
    val marg = db.join(target, "doc_id")
      .groupBy("bucket")
      .agg(sum(when(col("is_t"), col("nb")).otherwise(lit(0L))).as("ct"),
        sum("nb").as("cr"))
    val tot = marg.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val model = marg.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor(log(((col("ct") + 1).cast("decimal(38,0)") * (col("tr") + 256)).cast("double")
          / ((col("cr") + 1).cast("decimal(38,0)") * (col("tt") + 256)).cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("s6"))
    db.join(broadcast(model), "bucket")
      .groupBy("doc_id")
      .agg(sum("nb").as("n_bigrams"),
        sum(col("nb").cast("decimal(38,0)") * col("s6")).as("ss"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("ss").cast("double")
          / (col("n_bigrams").cast("double") * lit(1e6))).as("llr_raw"))
  }

  /** The resampling half of DSIR: an exponential-clock
    * (Efraimidis–Spirakis) weighted sample of 50 documents with weight
    * exp(llr) — importance resampling toward the target domain, fully
    * deterministic (u from the keyed 60-bit hash). The rank key is the
    * Gumbel-log form ln(−ln u) − llr (monotone in −ln(u)/exp(llr), one
    * fewer transcendental); selection is a TakeOrdered bounded heap and
    * the pick index is a window over the 50 post-limit survivors only.
    */
  def corpusDsirSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (tokenHash60(concat(lit("dsirs:"), col("doc_id").cast("string")))
      .cast("double") + 1.0) / lit(1.152921504606846976e18)
    dsirScores(spark, dir)
      .select(col("doc_id"), col("n_bigrams"), col("llr_raw"),
        (log(-log(u)) - col("llr_raw")).as("gkey"))
      .orderBy(col("gkey"), col("doc_id"))
      .limit(50)
      // cardinality bound: global window runs over the 50 post-limit
      // survivors only (TakeOrdered cut), never the corpus
      .withColumn("pick", row_number().over(Window.orderBy(col("gkey"), col("doc_id"))))
      .select(col("pick"), col("doc_id"), col("n_bigrams"),
        roundTo(col("llr_raw"), 4).as("dsir_llr"),
        roundTo(col("gkey"), 6).as("gkey"))
  }

  /** Matryoshka (MRL) dimension-truncation recall curve: recall@10 of
    * exact search over only the FIRST d components (d ∈ {8,16,32,64})
    * vs the full-dimension answer — the measured tradeoff behind
    * truncating matryoshka-trained embeddings for cheap first-stage
    * retrieval (Kusupati et al. 2022). Every leg is one pruned-scan
    * TakeOrdered bounded heap on the sliced array (slice is map-side;
    * no shuffle beyond the k-row cut); the d = 64 leg provably closes
    * the curve at recall 1.0.
    */
  def annMatryoshkaCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qv = queryVec(spark, dir, 4L)
    def leg(d: Int): DataFrame = {
      val v = if (d == 64) col("embedding") else slice(col("embedding"), 1, d)
      emb.select(col("vec_id").as("id"),
          vecL2Sq(v, typedLit(qv.take(d))).as("s"))
        .orderBy(col("s"), col("id")).limit(10).select("id")
    }
    val exact = leg(64)
    Seq(8, 16, 32, 64).map { d =>
      exact.join(leg(d), "id").agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("dim"), col("n_hits"),
          roundTo(col("n_hits") / lit(10L), 4).as("recall"))
    }.reduce(_ unionAll _).orderBy("dim")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, split documents into head/middle/tail THIRDS by their
    * [[operators.Corpus.lmScore]] fluency (head = most fluent — what
    * CCNet keeps for pretraining). Tercile thresholds come from rank
    * selection over the (lang × distinct 4-dp score) count table —
    * never a per-language sort of documents — and bucketing is by
    * VALUE, so boundary ties land deterministically on both engines.
    * The doc-level (lang, s4) table persists once (DISK_ONLY: lazy,
    * executor-loss-recoverable) and feeds thresholds AND bucketing, so
    * the LM chain runs exactly once.
    */
  def corpusCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the fluency table is the written-once lmScored artifact — the LM
    // chain never re-runs here; (lang, s4) is a narrow artifact join
    // primed: the tercile-threshold subtree is broadcast-built on its
    // own driver thread — a lazy persist let it race the bucketing scan
    // and re-run the artifact join.
    val d = operators.Caching.primed(lmScored(spark, dir)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("lang"),
        floor(col("lm_score") * lit(1e4) + lit(0.5)).cast("long").as("s4")),
      StorageLevel.DISK_ONLY)
    val td = d.groupBy("lang", "s4").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.partitionBy("lang").orderBy("s4")))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
    val th = td.groupBy("lang").agg(
      min(when(col("cum") >= expr("(n + 2) div 3"), col("s4"))).as("t1"),
      min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("s4"))).as("t2"))
    d.join(broadcast(th), "lang")
      .withColumn("bucket",
        when(col("s4") <= col("t1"), "tail")
          .when(col("s4") <= col("t2"), "middle")
          .otherwise("head"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("s4").cast("decimal(38,0)")).as("ssum"))
      .select(col("lang"), col("bucket"), col("n_docs"),
        roundTo(col("ssum").cast("double")
          / (col("n_docs").cast("double") * lit(1e4)), 4).as("mean_lm"))
      .orderBy("lang", "bucket")
  }

  /** Safety blocklist audit — the lexicon-based content filter every
    * curation pipeline runs beside quality/PII (here a 4-term stand-in
    * lexicon): per-source document counts, flagged docs, total term
    * hits, and flag rate. Membership counting rides the one codegen
    * tokenizer pass ([[graft.functions.stopwordVotes]] — no UDF, no
    * second scan); the rollup is source-domain-bounded.
    */
  def textBlocklist(spark: SparkSession, dir: String): DataFrame = {
    val terms = Array("slow", "hash", "spam", "junk")
    Tables.documents(spark, dir)
      .select(col("source"),
        stopwordVotes(wordTokens(col("text")), Array(terms)).getItem(0).as("hits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("hits").cast("long")).as("total_hits"))
      .select(col("source"), col("n_docs"), col("n_flagged"), col("total_hits"),
        roundTo(col("n_flagged").cast("double") / col("n_docs").cast("double"), 4)
          .as("flag_rate"))
      .orderBy("source")
  }

  /** Multi-touch conversion attribution — the marketing-analytics
    * ledger: every `purchase` closes a journey (the touches since the
    * user's previous purchase), and each touch TYPE earns first-touch,
    * last-touch, and linear credit. Journey ids come from a running
    * prior-purchase count over per-user event-bounded windows; the
    * linear fraction nt/n fixes to a 1e-6 integer per (journey, type)
    * so cross-journey sums are exact in any order. Joins are all
    * co-partitioned on user_id; outputs are type-domain-bounded.
    */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .withColumn("jid", coalesce(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w),
        lit(0L)))
    val convs = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("jid"))
    val tch = ev.where(col("event_type") =!= "purchase")
      .join(convs, Seq("user_id", "jid"))
    val perJ = tch.groupBy("user_id", "jid")
      .agg(count(lit(1)).as("n"),
        min(struct(col("t"), col("event_id"), col("event_type"))).as("ft"),
        max(struct(col("t"), col("event_id"), col("event_type"))).as("lt"))
    val lin = tch.groupBy("user_id", "jid", "event_type")
      .agg(count(lit(1)).as("nt"))
      .join(perJ.select("user_id", "jid", "n"), Seq("user_id", "jid"))
      .withColumn("lin6",
        floor(col("nt").cast("double") / col("n").cast("double") * lit(1e6) + lit(0.5))
          .cast("long"))
      .groupBy("event_type")
      .agg(sum("nt").as("n_touches"), sum("lin6").as("lin6"))
    val ft = perJ.groupBy(col("ft.event_type").as("event_type"))
      .agg(count(lit(1)).as("ft_journeys"))
    val lt = perJ.groupBy(col("lt.event_type").as("event_type"))
      .agg(count(lit(1)).as("lt_journeys"))
    lin.join(ft, Seq("event_type"), "left").join(lt, Seq("event_type"), "left")
      .select(col("event_type"), col("n_touches"),
        coalesce(col("ft_journeys"), lit(0L)).as("ft_journeys"),
        coalesce(col("lt_journeys"), lit(0L)).as("lt_journeys"),
        roundTo(col("lin6").cast("double") / lit(1e6), 4).as("linear_credit"))
      .orderBy("event_type")
  }

  /** Entity resolution by delete-1 neighborhood blocking — the
    * record-linkage primitive (FastSS / symmetric-delete): two names
    * within edit distance 1 ALWAYS share a member of each other's
    * delete-1 variant set (the name itself at position 0, plus each
    * one-character deletion), so the variant equi-join finds every such
    * pair with NO all-pairs comparison; `levenshtein` then verifies
    * candidates exactly. Blocks are variant-keyed (size bounded by the
    * alphabet × id density, never corpus-proportional) and the exact
    * check runs only on candidates. Output: the matches-per-record
    * histogram, zero-match records included.
    */
  def customerIdLinkage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // POSITION-TAGGED symmetric delete: an ED ≤ 1 pair is (a) equal
    // names, (b) a substitution at position i — both delete i and share
    // (pos, v) — or (c) an indel — the shorter name equals one delete-1
    // variant of the longer. Each leg's candidates are PROVABLY ED ≤ 1
    // (same-position delete equality forces all other chars equal), so
    // the exact-verify step vanishes and no name payload ever rides a
    // pair join. Tagging also kills the cross-position false candidates
    // a bare variant join admits (956k → 263k pairs at sf0.1,
    // measured). Every posting block is df-capped at 256 — the
    // winnow/rare-gram discipline — so heavy exact-name duplication
    // bounds at Σ 256·|block| instead of Σ block²; cap-exceeding
    // blocks are exact-duplication territory, owned by [[dedupExact]].
    // pos 0 = the name itself, pos i ≥ 1 = delete-i — ONE posting table
    // serves all three legs: the (pos, v) self-join yields substitutions
    // (pos ≥ 1) AND equal names (pos 0) in one pass; indels are the
    // pos-0 × pos-≥1 slice join.
    val vars = c.select(col("id"),
      posexplode(concat(array(col("name")),
        expr("transform(sequence(1, length(name)), i -> " +
          "concat(substring(name, 1, i - 1), substring(name, i + 1, length(name))))")))
        .as(Seq("pos", "v")))
    // ONE posting shuffle: blocks form by (pos, v) with the df-cap as a
    // plain array-size filter (no separate df aggregate, no join-back),
    // and pair expansion is MAP-SIDE combination generation over the
    // ≤ 256-id block arrays — the blockPairScan shape. Persisted: the
    // block table feeds the sub/eq explode, the v-regroup AND the
    // cap-observability report (persist contract at the top of this
    // file). The cap itself is applied per consumer so the capped
    // blocks stay countable.
    // primed EAGERLY: the capStats completeness envelope is a 1-row
    // broadcast whose subtree runs on a separate driver thread and
    // raced the lazy cache, re-running the whole posting shuffle.
    val blocksAll = operators.Caching.primed(vars.groupBy("pos", "v")
      .agg(sort_array(collect_list(col("id"))).as("ids")),
      StorageLevel.DISK_ONLY)
    val blocks = blocksAll.where(size(col("ids")) <= 256)
    // Completeness envelope: how much the df-cap dropped. Pairs inside
    // >256-id blocks are exact-duplication territory owned by
    // [[dedupExact]], but the report must SAY what it excluded —
    // a 1-row broadcast riding every histogram row.
    val capStats = blocksAll.where(size(col("ids")) > 256)
      .agg(count(lit(1)).as("n_capped_blocks"),
        coalesce(sum(size(col("ids")).cast("long")), lit(0L)).as("n_ids_in_capped"))
    val subeq = blocks.select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), b -> named_struct('a_id', a, 'b_id', b))))"))
        .as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
    // indels: pos-0 (full-name) ids × delete-1 ids sharing v — one
    // regroup of the block table (one narrow row per block), cross
    // bounded by the per-block caps
    val indel = blocks.groupBy("v")
      .agg(flatten(collect_list(when(col("pos") === 0, col("ids"))
          .otherwise(array()))).as("full"),
        flatten(collect_list(when(col("pos") >= 1, col("ids"))
          .otherwise(array()))).as("dels"))
      .where(size(col("full")) > 0 && size(col("dels")) > 0)
      .select(explode(expr(
        "flatten(transform(full, x -> transform(dels, y -> " +
          "named_struct('a_id', least(x, y), 'b_id', greatest(x, y)))))")).as("p"))
      .where(col("p.a_id") =!= col("p.b_id"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
    val pairs = subeq.unionByName(indel).distinct()
    // ONE pass over the pair table: the old a-leg ∪ b-leg projection pair
    // duplicated the whole subeq/indel/distinct subtree in the physical
    // plan (column pruning made the two copies non-identical, so
    // ReuseExchange never fired — measured 2× the query's task time).
    // explode(array(a, b)) emits the same two id rows per pair from a
    // single distinct.
    val m = pairs.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    // (m stays shuffle-joined, not broadcast: it is corpus-proportional —
    // one row per matched customer.)
    c.join(m, Seq("id"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n_matches"))
      .groupBy("n_matches").agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(capStats))
      .select(col("n_matches"), col("n_customers"),
        col("n_capped_blocks"), col("n_ids_in_capped"))
      .orderBy("n_matches")
  }
}
