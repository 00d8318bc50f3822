package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Graph-traversal ANN — the serving leg over the persisted k-NN graph
  * artifact (reference: src/core/index/hnsw_index.rs:1-95, the
  * reference's PRIMARY index structure). The repo builds and maintains
  * a k-NN graph ([[Knn.knnJoinIvf]], [[Knn.appendGraphEdges]]); this
  * object SEARCHES it: bounded-round greedy beam expansion, the batch
  * re-expression of HNSW's layer-0 walk.
  *
  * Serving layout (written once per corpus, [[Artifacts]] lifecycle):
  *
  *  - `edges/` — the graph SYMMETRIZED (HNSW links are traversed both
  *    ways) with each edge carrying the DESTINATION vector
  *    (src_id, dst_id, dst_vec), range-sorted by src_id so a frontier
  *    join prunes at parquet footer grain. Storing the vector on the
  *    edge trades degree × dim floats of space for zero per-hop corpus
  *    access — every hop scores its candidates from the edge rows
  *    alone, so per-hop work is O(frontier × degree) edge rows and the
  *    corpus table appears NOWHERE in the serving plan (plan-guarded).
  *    HNSW pays the same trade in RAM (vectors resident beside the
  *    adjacency lists); a lake engine pays it in parquet.
  *  - `entries/` — one medoid per IVF cluster of the SAME fitted
  *    quantizer the graph was blocked with (the vector closest to its
  *    cluster centroid, ties to lowest id): K-bounded, the
  *    deterministic analog of HNSW's entry point, giving the walk a
  *    spread of starting neighborhoods.
  *
  * The walk (one lazy plan, `hops` bounded rounds, never an action):
  * score the entries against the query; each round, the top-`beam`
  * NEWLY-scored ids become the frontier, their out-edges produce
  * candidates (one footer-pruned scan of `edges/` per round), already-
  * visited ids drop via an anti-join on the accumulated visited set,
  * and the new candidates score IN-ROW from dst_vec. After `hops`
  * rounds the answer is the top-k of everything visited. Recall grows
  * monotonically with hops (the visited set only grows, and only a
  * true top-k vector can displace a true top-k vector), measured by
  * the ann_graph_recall_curve artifact beside the IVF/LSH/PQ curves.
  */
object GraphAnn {

  /** Walk-instance nonce: every beam walk stamps its plan with a fresh
    * literal (an always-true `lit(n) === lit(n)` filter the optimizer
    * folds away), so the per-hop persisted frames can NEVER be
    * cache-substituted across walks. Spark's CacheManager matches
    * persisted frames by their NORMALIZED plan, which does NOT include
    * the file LISTING — so without the nonce, a repeat of the same
    * query after the artifact mutated underneath (tombstone append,
    * compaction swap) silently serves the PREVIOUS walk's cached hops
    * (stale answers, or FAILED_READ once a compact removed the files);
    * Spark's path-recache only refreshes the FIRST matching relation
    * per cached plan, and a walk plan holds several. The nonce keys
    * every walk's cache entries to itself; intra-walk reuse (each hop
    * referenced three times downstream) is by Dataset identity and is
    * unaffected. Zero runtime cost: the filter constant-folds before
    * execution but sits in the pre-optimization plan the cache keys on
    * (proven by the mutation-storm and crash-injection suites).
    */
  private val walkNonce = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nonced(df: DataFrame): DataFrame = {
    val n = walkNonce.incrementAndGet()
    df.where(lit(n) === lit(n))
  }

  /** Build the serving layout from the built graph edges
    * (q_id, n_id[, ...] rows of [[Knn.knnJoinIvf]]) and the vector
    * table: symmetrize, attach destination vectors (one co-partitioned
    * join at BUILD time — the last time the corpus table is touched),
    * range-sort by src_id; medoid entries from the same frozen
    * centroids. Writes `edges/` and `entries/` under `base`.
    */
  def buildServing(graph: DataFrame, emb: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Float]], base: String): Unit = {
    val (entries, edges) = servingFrames(graph, emb, idCol, vecCol, centroids)
    writeServing(emb.sparkSession, entries, edges, centroids.length.toLong, base)
  }

  /** The maintained facade's serving build ([[graft.api.VectorIndex]]
    * save at GRAPH): same layout as [[buildServing]] plus a `gen` stamp
    * on every row (generation-scoped tombstones
    * ([[Tombstones.filterEdgesGen]]) kill exactly the edges that
    * referenced a superseded row), with the blocking quantizer behind
    * the [[GraphQuantizer]] seam — flat literal below the K threshold,
    * the routed two-level table above it.
    */
  def buildServingMaintained(graph: DataFrame, emb: DataFrame, idCol: String,
                             vecCol: String, q: GraphQuantizer, base: String,
                             gen: Long): Unit = {
    val spark = emb.sparkSession
    val (entries, edges) = servingFramesQ(graph, emb, idCol, vecCol, q)
    writeServing(spark, entries.withColumn("gen", lit(gen)),
      edges.withColumn("gen", lit(gen)),
      q.numClusters(spark), base)
  }

  /** Shared writer of a serving layout. Overwrite: re-saving an index
    * to a previously-used path must replace the layout, not throw
    * mid-save after data was written. Small row groups
    * (GraphMaintenance.EdgeBlockBytes) give src_id IN-list probes (the
    * re-link heal) statistics pruning that stays flat in corpus size —
    * a default-sized range file is one row group and every probe reads
    * it whole.
    *
    * EVERY serving layout persists the ENTRY ROUTE — the upper layer of
    * the serving structure (HNSW's layer hierarchy, hnsw_index.rs,
    * re-expressed lake-native): ⌈√E⌉ route centroids fit over the E
    * medoid entries themselves, plus a route_cell column the entries
    * sort by. Hop 0 of a walk then scores only the query's routed
    * cells' entries — ~√E rows via a PUSHED route_cell filter
    * ([[routeEntries]]) — instead of all E = n/targetClusterSize
    * medoids; the route matrix stays sample-fittable and literal-sized
    * (√E) at any corpus size. Maintained (gen-stamped) layouts carry
    * the same route: the route centroids FREEZE at build like the
    * coarse quantizer, and every heal/re-seed assigns the appended
    * entry its route_cell against them
    * ([[GraphMaintenance.refreshEntries]]) — so a routed artifact
    * stays routed under mutations instead of silently degrading.
    */
  private def writeServing(spark: SparkSession, entries: DataFrame, edges: DataFrame,
                           nClusters: Long, base: String): Unit = {
    edges
      .repartitionByRange(col("src_id"))
      .sortWithinPartitions("src_id", "dst_id")
      .write.mode("overwrite")
      .option("parquet.block.size", GraphMaintenance.EdgeBlockBytes.toString)
      .parquet(s"$base/edges")
    val entriesP = entries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val routeK = math.max(1,
        math.ceil(math.sqrt(math.max(1L, nClusters).toDouble)).toInt)
      val routeCents = IvfIndex.fit(entriesP, "vec", routeK)
      IvfIndex.writeCentroids(spark, routeCents, s"$base/route")
      entriesP.withColumn("route_cell", nearestCentroid(col("vec"), routeCents))
        .coalesce(1).sortWithinPartitions("route_cell", "id")
        .write.mode("overwrite").parquet(s"$base/entries")
      // the LIVE entry count manifest the serve-time auto-switch reads
      // (a maintained artifact keeps it current across mutations so the
      // switch sees growth)
      writeEntryCount(spark, base, entriesP.count())
    } finally entriesP.unpersist()
  }

  /** [[servingFrames]] blocked by the two-level routed quantizer — the
    * >10⁷-row serving build: identical edge derivation (symmetrize +
    * destination vectors, no quantizer involved), entries = one medoid
    * per FINE cluster computed through the fine TABLE join
    * ([[RoutedQuantizer.assign]] + d2 to the row-carried fine centroid)
    * instead of the K-proportional centroid literal/broadcast the flat
    * path rides.
    */
  def servingFramesRouted(graph: DataFrame, emb: DataFrame, idCol: String,
                          vecCol: String, rq: RoutedQuantizer): (DataFrame, DataFrame) = {
    val directed = graph.select(col("q_id").as("src_id"), col("n_id").as("dst_id"))
    val sym = directed
      .unionByName(directed.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
      .distinct()
    val edges = sym
      .join(emb.select(col(idCol).as("dst_id"), col(vecCol).as("dst_vec")), "dst_id")
      .select(col("src_id"), col("dst_id"), col("dst_vec"))
    val entries = rq.assign(
        emb.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec")
      .join(rq.fine.select(col("cluster"), col("cv")), Seq("cluster"))
      .withColumn("d2", vecL2Sq(col("vec"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("d2"), col("id"))))
      .where(col("rn") === 1)
      .select(col("cluster"), col("id"), col("vec"))
    (entries, edges)
  }

  /** [[buildServing]] for a routed-quantizer graph (query-side layout
    * only — the maintained facade lifecycle keeps the flat path): same
    * edge layout, fine-cluster medoid entries, and the ENTRY ROUTE over
    * them — so the artifact a routed build writes serves exactly the
    * same walks ([[searchBeam]] / [[searchBeamBatch]] with
    * [[routeEntries]]) as a flat build's.
    */
  def buildServingRouted(graph: DataFrame, emb: DataFrame, idCol: String,
                         vecCol: String, rq: RoutedQuantizer, base: String): Unit = {
    val (entries, edges) = servingFramesRouted(graph, emb, idCol, vecCol, rq)
    // the quantizer PERSISTS WITH the artifact (`quantizer/coarse` +
    // `quantizer/fine`): a later session maintaining, auditing or
    // oracle-checking the layout reads the exact fitted tables instead
    // of refitting (distributed Lloyd means are not bit-stable across
    // sessions — the fitted quantizer is part of the artifact's state,
    // like the route and the edge set)
    RoutedQuantizer.write(emb.sparkSession, rq, s"$base/quantizer")
    edges
      .repartitionByRange(col("src_id"))
      .sortWithinPartitions("src_id", "dst_id")
      .write.mode("overwrite")
      .option("parquet.block.size", GraphMaintenance.EdgeBlockBytes.toString)
      .parquet(s"$base/edges")
    val spark = emb.sparkSession
    val entriesP = entries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val e = entriesP.count()
      val routeK = math.max(1, math.ceil(math.sqrt(math.max(1L, e).toDouble)).toInt)
      val routeCents = IvfIndex.fit(entriesP, "vec", routeK)
      IvfIndex.writeCentroids(spark, routeCents, s"$base/route")
      // range-partitioned by route cell (entries here are K rows — the
      // flat path's coalesce(1) is wrong at table-sized K): a routed
      // walk's route_cell IN-list prunes at file AND row-group grain
      entriesP.withColumn("route_cell", nearestCentroid(col("vec"), routeCents))
        .repartitionByRange(col("route_cell"), col("id"))
        .sortWithinPartitions("route_cell", "id")
        .write.mode("overwrite").parquet(s"$base/entries")
      writeEntryCount(spark, base, e)
    } finally entriesP.unpersist()
  }

  /** Sub-linear entry selection for a single-query walk: prune an
    * entries frame (carrying the persisted `route_cell` column) to the
    * query's `routeProbe` nearest route cells — the predicate is an
    * IN-list literal over √E route centroids, so it REACHES THE SCAN
    * (PushedFilters; row-group pruning on the route-sorted entries
    * file). routeProbe = all cells degenerates to the full entry set.
    */
  def routeEntries(entries: DataFrame, routeCents: Array[Array[Float]],
                   queryVec: Array[Float], routeProbe: Int): DataFrame =
    entries.where(col("route_cell").isin(
      IvfIndex.probes(queryVec, routeCents, routeProbe): _*))

  /** [[servingFrames]] behind the [[GraphQuantizer]] seam — identical
    * edge derivation; entries = one medoid per cluster computed through
    * the quantizer's cluster TABLE (a broadcastable literal for flat,
    * the fine table for routed — never a K-proportional driver array).
    */
  def servingFramesQ(graph: DataFrame, emb: DataFrame, idCol: String, vecCol: String,
                     q: GraphQuantizer): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    val directed = graph.select(col("q_id").as("src_id"), col("n_id").as("dst_id"))
    val sym = directed
      .unionByName(directed.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
      .distinct()
    val edges = sym
      .join(emb.select(col(idCol).as("dst_id"), col(vecCol).as("dst_vec")), "dst_id")
      .select(col("src_id"), col("dst_id"), col("dst_vec"))
    val entries = q.withCluster(
        emb.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec")
      .join(q.clusterTable(spark), Seq("cluster"))
      .withColumn("d2", vecL2Sq(col("vec"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("d2"), col("id"))))
      .where(col("rn") === 1)
      .select(col("cluster"), col("id"), col("vec"))
    (entries, edges)
  }

  /** The serving frames as LAZY plans (what [[buildServing]] persists):
    * `entries` = (cluster, id, vec) medoids of the frozen quantizer,
    * `edges` = the graph symmetrized with destination vectors attached.
    * The facade's fresh-state GRAPH search walks these in-plan the way
    * its IVF search refits in-plan — persisting them is the save path.
    */
  def servingFrames(graph: DataFrame, emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Float]]): (DataFrame, DataFrame) = {
    val directed = graph.select(col("q_id").as("src_id"), col("n_id").as("dst_id"))
    val sym = directed
      .unionByName(directed.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
      .distinct()
    val edges = sym
      .join(emb.select(col(idCol).as("dst_id"), col(vecCol).as("dst_vec")), "dst_id")
      .select(col("src_id"), col("dst_id"), col("dst_vec"))
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "cv"))
    val entries = emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        nearestCentroid(col(vecCol), centroids).as("cluster"))
      .join(cents, "cluster")
      .withColumn("d2", vecL2Sq(col("vec"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("d2"), col("id"))))
      .where(col("rn") === 1)
      .select(col("cluster"), col("id"), col("vec"))
    (entries, edges)
  }

  /** The visited sets after 0..hops expansion rounds — (id, dist)
    * frames, each a superset of the previous.
    *
    * DRIVER-STATED walk (r16 optimization — guide §1.2/§6): the walk's
    * per-round state is bounded BY CONSTRUCTION — hop 0 is the entry
    * set (≤ the route threshold unrouted, ~routeProbe·√E routed) and
    * every later round adds ≤ beam × degree rows — which is exactly
    * the bound the previous shape used to justify broadcast-hinting
    * the visited set to the executors EVERY hop. Holding the same
    * bounded state on the driver instead collapses each round to ONE
    * job: a single scan of the edges artifact with the frontier as a
    * PUSHED `src_id IN (...)` predicate (PushedFilters — this is what
    * the range-sorted, small-row-group edge layout was built for:
    * row-group statistics prune the scan to O(beam) groups, where the
    * old broadcast-join shape re-read the WHOLE artifact every hop —
    * corpus-proportional IO per round at scale, measured 120 s of task
    * time on the sf0.1 degree curve), scoring candidates in-plan from
    * dst_vec (the same codegen expression ⇒ bit-identical doubles) and
    * returning ≤ frontier × degree narrow (id, dist) rows. Visited-set
    * filtering and the frontier cut are exact driver-side set ops on
    * that bounded state; per-hop persisted frames, their cache
    * management and the per-walk nonce all disappear (nothing is
    * cached, so a mutated artifact can never serve a stale frame).
    * The returned states are local relations — downstream cuts and
    * joins see identical values.
    *
    * READ-CONSISTENCY REQUIREMENT: the driving pass runs hops + 1 jobs
    * EAGERLY at call time and bakes its frontier/visited decisions into
    * the returned lazy plans, which re-scan the artifact when acted on.
    * The artifact must therefore stay IMMUTABLE between this call and
    * the last action on a returned state — an overwrite in that window
    * would mix the old walk's decisions with the new data's scans.
    * Every in-repo caller satisfies this by resolving the artifact
    * (or constructing serve frames) immediately before walking and
    * consuming the states within the same serving call; mutations to a
    * LOADED index go through [[graft.api.VectorIndex]]'s single-writer
    * lease and re-open, never an in-place overwrite under a live walk.
    */
  def beamStates(entries: DataFrame, edges: DataFrame, queryVec: Array[Float],
                 beam: Int, hops: Int, metric: String = "l2"): Seq[DataFrame] = {
    require(beam >= 1 && hops >= 0)
    val scoreEntry = Knn.score(metric, col("vec"), typedLit(queryVec))
    def scoreDst = Knn.score(metric, col("dst_vec"), typedLit(queryVec))
    val scoredEntries = entries.select(col("id"), scoreEntry.as("dist"))
    // DRIVING pass: hop 0's bounded entry set comes to the driver once
    // (scored in-plan — the identical expression the returned plans
    // carry, so every double matches bit-for-bit)
    val h0 = scoredEntries.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val visited = scala.collection.mutable.LinkedHashMap[Long, Double]()
    h0.foreach { case (id, d) => if (!visited.contains(id)) visited(id) = d }
    var fresh: Array[(Long, Double)] = visited.toArray
    // RETURNED states stay plans OVER THE ARTIFACT: round h's fresh
    // frame re-derives as a single pruned scan of `edges/` — the
    // frontier IN-list pushed to the reader plus a dst→src pair-map
    // equality that keeps exactly one edge row per newly-visited id
    // (multiple frontier copies of a dst carry the same dst_vec ⇒ the
    // same dist; the driving pass picked the min-src copy) — so the
    // serving plan the callers compose, cache-check and PLAN-AUDIT
    // still reads only `entries`/`edges` (PushedFilters visible,
    // route_cell filter riding the entries scan on routed arms), with
    // ZERO exchanges and zero per-hop caches: the whole walk serve is
    // one union of pruned scans under a bounded top-k cut.
    var freshPlans = Vector(scoredEntries)
    val states = Seq.newBuilder[DataFrame]
    states += scoredEntries
    for (_ <- 1 to hops) {
      // frontier cut — same (dist, id) ordering as the old TakeOrdered
      val frontier = fresh.sortBy { case (id, d) => (d, id) }.take(beam).map(_._1)
      if (frontier.isEmpty) {
        fresh = Array.empty
        states += freshPlans.reduce(_ unionByName _)
      } else {
        // ONE pruned scan per round: frontier IN-list reaches the
        // parquet reader (row-group pruning on the src_id-sorted,
        // small-row-group layout); candidates score in-row from
        // dst_vec — the corpus table appears nowhere
        val cand = edges.where(col("src_id").isin(frontier.toSeq: _*))
          .select(col("src_id"), col("dst_id"), scoreDst.as("dist"))
          .collect()
        // visited anti-join + duplicate drop on the driver (bounded:
        // ≤ frontier × degree rows), keeping the min-src copy per new
        // dst as the canonical pair the re-derivation plan selects
        val pairs = scala.collection.mutable.LinkedHashMap[Long, (Long, Double)]()
        cand.foreach { r =>
          val s = r.getLong(0); val d = r.getLong(1)
          if (!visited.contains(d)) {
            val keep = pairs.get(d) match {
              case Some((s0, _)) => s < s0
              case None          => true
            }
            if (keep) pairs(d) = (s, r.getDouble(2))
          }
        }
        fresh = pairs.iterator.map { case (d, (_, dist)) => (d, dist) }.toArray
        fresh.foreach { case (d, dist) => visited(d) = dist }
        val pairMap = pairs.iterator.map { case (d, (s, _)) => (d, s) }.toMap
        val freshPlan = edges
          .where(col("src_id").isin(frontier.toSeq: _*) &&
            col("src_id") === element_at(typedLit(pairMap), col("dst_id")))
          .select(col("dst_id").as("id"), scoreDst.as("dist"))
        freshPlans :+= freshPlan
        states += freshPlans.reduce(_ unionByName _)
      }
    }
    states.result()
  }

  /** BATCH beam walk — the graph backend's member of the batch family
    * ([[Knn.searchBatchIvf]], [[PqIndex.searchBatchAdc]],
    * [[BinaryIndex.searchBatch]]): every query row walks the SAME edge
    * artifact in ONE plan. Hop 0 scores the K-bounded entry table
    * against every query (entries broadcast — they are the bounded
    * side; the corpus-proportional query set never broadcasts); each
    * round the per-query top-`beam` newly-scored ids join the edge
    * artifact on src_id (frontier × degree rows PER QUERY), visited
    * (q_id, id) pairs drop via an anti-join, and candidates score
    * in-row from dst_vec against the q_vec joined back by q_id. The
    * query projection and each round's fresh frame persist (bounded:
    * |q| × (K + beam·degree) narrow rows — the iterate-and-cache shape
    * of the single-query walk). Per-query state is BOUNDED by
    * construction (K + hops·beam·degree rows), so the per-hop cut and
    * the final top-k are windows over bounded groups, never a corpus
    * sort. The corpus table appears only under the query projection —
    * never per hop (plan-guarded).
    */
  /** Per-batch query budget: the per-hop frontier/visited frames are
    * broadcast by HINT (bounded-side reasoning the optimizer can't see
    * through the window/limit lineage), so their size must be BOUNDED
    * BY CONSTRUCTION — |q| × per-query state. A corpus-proportional
    * query set would grow that broadcast without limit; above this
    * budget the batch splits into hash-chunks submitted as BOUNDED
    * CONCURRENT jobs ([[chunkParallelism]] in flight; each chunk's
    * k-row result materializes and its walk state drains before its
    * slot frees), so peak broadcast/cache state is `parallel` chunks',
    * total work is linear in |q|, and the result — per-query
    * independent by construction — is IDENTICAL to the monolithic
    * walk at any chunk size and any parallelism.
    */
  val DefaultBatchChunk = 2048

  /** The session's chunk budget — [[DefaultBatchChunk]] unless the conf
    * `spark.graft.graph.batchChunk` overrides it (the scale
    * certificates force small chunks so the chunked path is exercised
    * at test |q|; a cluster deployment tunes it to executor memory).
    */
  def chunkBudget(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.graph.batchChunk").map(_.toInt)
      .getOrElse(DefaultBatchChunk)

  /** Chunk walks in flight at once (conf
    * `spark.graft.graph.batchChunkParallel`, default 2). Chunks are
    * per-query independent, so over-budget batches submit as BOUNDED
    * CONCURRENT Spark jobs from a fixed caller-side pool — the
    * scheduler overlaps one chunk's shuffle with another's scan
    * instead of idling between sequential actions. Peak cached state
    * becomes `parallel` chunks' walk state (the budget's memory
    * reasoning scales by this knob — a deployment sizes
    * batchChunk × batchChunkParallel to executor memory together).
    * 1 restores the strictly-sequential fold.
    */
  def chunkParallelism(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.graph.batchChunkParallel").map(_.toInt)
      .getOrElse(2)

  /** SESSION-shared chunk admission gate: N simultaneous over-budget
    * batch calls share ONE `batchChunkParallel` budget instead of each
    * opening its own (the per-call pool still bounds each call; this
    * semaphore bounds their SUM, so peak cached walk state across
    * concurrent callers stays `parallel` chunks' worth). Keyed by
    * session so independent sessions in one JVM don't throttle each
    * other; if the conf changes between calls the gate is rebuilt at
    * the new width (in-flight holders of the old gate drain against the
    * old object — last-writer-wins, documented-best-effort for the
    * reconfigure-under-load corner).
    */
  private val chunkGates =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, java.util.concurrent.Semaphore)]()
  private def chunkGate(spark: SparkSession): java.util.concurrent.Semaphore = {
    val want = math.max(1, chunkParallelism(spark))
    chunkGates.compute(String.valueOf(System.identityHashCode(spark)), (_, cur) =>
      if (cur != null && cur._1 == want) cur
      else (want, new java.util.concurrent.Semaphore(want, true)))._2
  }

  /** Default routeProbe of routed walks: 2 cells covers a query near a
    * route-cell boundary (the `ann_graph_routed` readout prices what it
    * costs in recall vs the exact hop 0).
    */
  val RouteProbe = 2

  /** Entry-count threshold above which walks route hop 0 through the
    * persisted entry route (conf `spark.graft.graph.routeEntriesThreshold`;
    * the scale certificates force it down to drive the routed branch at
    * test sizes). Below it the full-entry hop 0 is exact AND cheaper;
    * above it |q| × E is the quadratic the route exists to break.
    */
  def routeThreshold(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graph.routeEntriesThreshold").map(_.toLong)
      .getOrElse(4096L)

  /** The `_entrycount` manifest inside a serve dir: the LIVE entry
    * count, written at build and refreshed by the mutation protocol
    * after its heals ([[GraphMaintenance.complete]]) — so the serve-time
    * auto-switch decides from the artifact's CURRENT size (a
    * heavily-inserted artifact crosses the threshold without a
    * re-save). Same write-temp-then-rename discipline as `_rowcount`.
    */
  def writeEntryCount(spark: SparkSession, serveDir: String, e: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(serveDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$serveDir/_entrycount")
    val tmp = new org.apache.hadoop.fs.Path(s"$serveDir/_entrycount_tmp")
    val out = fs.create(tmp, true)
    try out.write(e.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"_entrycount rename failed for $serveDir")
  }

  def readEntryCount(spark: SparkSession, serveDir: String): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(serveDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$serveDir/_entrycount")
    val tmp = new org.apache.hadoop.fs.Path(s"$serveDir/_entrycount_tmp")
    if (!fs.exists(p) && fs.exists(tmp)) fs.rename(tmp, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      scala.util.Try(raw.trim.toLong).toOption
    }
  }

  /** The persisted entry route under `serveDir` (`route/`), taken when
    * the entry count warrants it (or `force`). The switch reads only the
    * driver-side LIVE `_entrycount` manifest the build writes and every
    * mutation refreshes — no action on the entries table decides the
    * branch, and a declining call (the small-E regime) pays zero
    * parquet reads.
    */
  def servingRoute(spark: SparkSession, serveDir: String,
                   force: Boolean = false): Option[(Array[Array[Float]], Int)] =
    if (force || readEntryCount(spark, serveDir).exists(_ > routeThreshold(spark)))
      Some((IvfIndex.readCentroids(spark, s"$serveDir/route"), RouteProbe))
    else None

  /** `route = Some((routeCents, routeProbe))` replaces hop 0's
    * |q| × E entry cross-join with the coarse ENTRY ROUTE
    * ([[buildServing]]'s `route/` artifact): each query scores the √E
    * route centroids MAP-SIDE ([[graft.functions.nearestCentroids]] —
    * a √E literal), explodes to its routeProbe cells, and equi-joins
    * the entries on route_cell — |q| × routeProbe × √E scored entry
    * rows instead of |q| × E, and the join is a plain equi-join (the
    * entries ship ONCE, never per query; broadcast while small). With
    * E = n/100 corpus-proportional and |q| likewise, that turns the
    * quadratic hop 0 into |q| × √E — the lake-native analog of HNSW's
    * upper layers. None keeps the exact full-entry hop 0 (the small-E
    * regime and every hash-gated keyed row).
    */
  /** `gate = Some(passIds)` is the batch twin of [[searchBeamGated]]
    * (the reference's walk-time filter, hnsw_index.rs
    * search_vectors_filter): the walk traverses the full graph and only
    * the per-query top-k CUT is gated on the pass set — callers widen
    * `beam` to compensate, exactly like the single-query arm.
    */
  def searchBeamBatch(entries: DataFrame, edges: DataFrame, queries: DataFrame,
                      qIdCol: String, qVecCol: String,
                      k: Int, beam: Int, hops: Int,
                      metric: String = "l2",
                      route: Option[(Array[Array[Float]], Int)] = None,
                      maxChunk: Int = DefaultBatchChunk,
                      gate: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0 && maxChunk >= 1)
    val q0 = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"))
    // the one driver action of the batch path: the chunk count needs
    // |q| (a narrow scan); at or under budget the plan is EXACTLY the
    // single-chunk walk
    val nQ = q0.count()
    if (nQ <= maxChunk)
      walkChunk(entries, edges, q0, k, beam, hops, metric, route, gate)._1
    else {
      val nChunks = ((nQ + maxChunk - 1) / maxChunk).toInt
      val qAll = q0.withColumn("_chunk", pmod(hash(col("q_id")), lit(nChunks)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // completed chunks' k-row result frames, tracked so the FAILURE
      // path can unpersist them (without this a thrown chunk left every
      // finished chunk's cache pinned until the ContextCleaner)
      val done = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
      val admission = chunkGate(q0.sparkSession)
      def runChunk(c: Int): DataFrame = {
        // session-shared admission: concurrent over-budget CALLS share
        // one in-flight budget, not one budget each
        admission.acquire()
        try {
          val (part, internals) = walkChunk(entries, edges,
            qAll.where(col("_chunk") === c).drop("_chunk"),
            k, beam, hops, metric, route, gate)
          val partP = part.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            partP.count() // materialize this chunk's k-row result ...
            done.add(partP)
            partP
          } catch {
            // a failed chunk must not leave ITS OWN result pinned
            case t: Throwable => partP.unpersist(false); throw t
          } finally {
            // ... and DRAIN the walk's internal per-hop frames (success
            // AND failure), so cached state per in-flight chunk is one
            // walk plus the (tiny) accumulated results, never
            // |q|/maxChunk walks' worth
            internals.foreach(_.unpersist(false))
          }
        } finally admission.release()
      }
      val par = math.max(1, math.min(chunkParallelism(q0.sparkSession), nChunks))
      val parts =
        try {
          if (par == 1) (0 until nChunks).map(runChunk)
          else {
            // bounded concurrent jobs: a fixed pool caps in-flight chunk
            // walks at `par`; submission is thread-safe (one session, the
            // walk nonce is atomic, chunks share no mutable state) and the
            // per-chunk results are order-independent, collected by index
            val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutorService(pool)
            try {
              val fs = (0 until nChunks).map(c => scala.concurrent.Future(runChunk(c)))
              fs.map(f => scala.concurrent.Await.result(
                f, scala.concurrent.duration.Duration.Inf))
            } finally
              // shutdownNow, not shutdown: on the failure path the
              // not-yet-started chunks are CANCELLED and in-flight ones
              // interrupted, instead of running to completion behind a
              // batch call that already threw (on success all tasks are
              // done and this is a plain close)
              pool.shutdownNow()
          }
        } catch {
          case t: Throwable =>
            // failed batch: nothing survives this call — release every
            // completed chunk's cache and the chunked query projection
            done.forEach(p => p.unpersist(false))
            qAll.unpersist(false)
            throw t
        }
      qAll.unpersist()
      parts.reduce(_ unionByName _)
    }
  }

  /** One bounded chunk's walk — the pre-budget searchBeamBatch body.
    * Returns (result, internal persisted frames): the chunked caller
    * materializes the result and unpersists the internals immediately;
    * the single-chunk caller returns the lazy plan and leaves them to
    * the ContextCleaner (they back the not-yet-run plan).
    */
  private def walkChunk(entries: DataFrame, edges: DataFrame, queries: DataFrame,
                        k: Int, beam: Int, hops: Int,
                        metric: String,
                        route: Option[(Array[Array[Float]], Int)],
                        gate: Option[DataFrame] = None): (DataFrame, Seq[DataFrame]) = {
    // nonced — same mutable-artifact cache-reuse hazard as the
    // single-query walk (see [[nonced]])
    val q = nonced(queries)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perQ = Window.partitionBy("q_id").orderBy(col("dist"), col("id"))
    // r16: every per-hop frame is hash-partitioned by q_id ONCE (an
    // explicit repartition the downstream operators all reuse —
    // HashPartitioning(q_id) satisfies the dedup aggregate's
    // ClusteredDistribution(q_id, id) AND the frontier/cut windows'
    // ClusteredDistribution(q_id)), so each hop pays ONE exchange of
    // the bounded |q|-proportional frame instead of two (dedup + next
    // hop's window) — guide §2.4 "two operations keyed the same way
    // share one exchange".
    val scoredEntries = (route match {
      case Some((rc, rp)) =>
        val ent =
          if (entries.columns.contains("route_cell")) entries
          else entries.withColumn("route_cell", nearestCentroid(col("vec"), rc))
        q.withColumn("route_cell", explode(nearestCentroids(col("q_vec"), rc, rp)))
          .join(ent.select(col("route_cell"), col("id"), col("vec")), Seq("route_cell"))
          .select(col("q_id"), col("id"),
            Knn.score(metric, col("vec"), col("q_vec")).as("dist"))
      case None =>
        q.crossJoin(broadcast(entries.select(col("id"), col("vec"))))
          .select(col("q_id"), col("id"),
            Knn.score(metric, col("vec"), col("q_vec")).as("dist"))
    }).repartition(col("q_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var fresh = scoredEntries
    var freshFrames = Vector(fresh)
    for (_ <- 1 to hops) {
      val visited = freshFrames.reduce(_ unionByName _)
      val frontier = fresh
        .withColumn("rn", row_number().over(perQ)).where(col("rn") <= beam)
        .select(col("q_id"), col("id"))
      // frontier (|q| × beam) and visited (|q| × bounded state) are the
      // bounded sides at the fixed query loads a serving batch means —
      // hinted broadcast so the EDGE ARTIFACT is never the shuffled
      // side of a hop (it would otherwise re-shuffle per hop, corpus-
      // proportional, the moment it outgrows the auto threshold; a
      // corpus-scale query set belongs on knnJoinIvf, not this walk)
      // (r16 note: a per-hop driver-collected src_id IN-list pushed
      // into the edge scan was tried and MEASURED SLOWER here — the
      // synchronous per-hop distinct+collect serializes the otherwise
      // lazy pipeline; at batch query loads the full-artifact scan is
      // amortized over every query of the chunk, unlike the
      // single-query walk where the same pushdown won 8×.)
      val cands = broadcast(frontier).join(edges, frontier("id") === edges("src_id"))
        .select(col("q_id"), col("dst_id").as("id"), col("dst_vec"))
        .repartition(col("q_id")) // the hop's ONE exchange (see above)
        .dropDuplicates("q_id", "id")
        .join(broadcast(visited.select(col("q_id"), col("id"))), Seq("q_id", "id"), "left_anti")
      fresh = cands.join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("id"),
          Knn.score(metric, col("dst_vec"), col("q_vec")).as("dist"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      freshFrames :+= fresh
    }
    val flip = metric == "ip" || metric == "cosine"
    val all = freshFrames.reduce(_ unionByName _)
    // the gate (the filtered batch arm) applies BEFORE the per-query
    // cut — only passing candidates compete for the k slots, exactly
    // like searchBeamGated's single-query semantics
    val cuttable = gate match {
      case Some(p) =>
        all.join(p.select(col(p.columns.head).as("id")), Seq("id"), "leftsemi")
      case None => all
    }
    val result = cuttable
      .withColumn("rn", row_number().over(perQ)).where(col("rn") <= k)
      .select(col("q_id"), col("rn").as("rank"), col("id").as("n_id"),
        roundTo(if (flip) -col("dist") else col("dist"), 4).as("value"))
    (result, q +: freshFrames)
  }

  /** Top-k serve: the last beam state cut to (rank, id, value) — the
    * same output contract as every other search operator.
    */
  def searchBeam(entries: DataFrame, edges: DataFrame, queryVec: Array[Float],
                 k: Int, beam: Int, hops: Int, metric: String = "l2"): DataFrame = {
    require(k >= 1)
    val flip = metric == "ip" || metric == "cosine"
    beamStates(entries, edges, queryVec, beam, hops, metric).last
      .orderBy(col("dist"), col("id"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("dist"), col("id"))))
      .select(col("rank"), col("id"),
        roundTo(if (flip) -col("dist") else col("dist"), 4).as("value"))
  }

  /** WALK-TIME filtered serve — the reference's filter mechanism
    * (hnsw_index.rs search_vectors_filter: the bitmap gates candidates
    * as they are scored; the walk itself traverses the full graph): the
    * beam walk runs over the ONE standing serving layout and only the
    * top-k CUT is gated on `passIds` (an (id) frame of the documents
    * satisfying the predicate). Callers widen `beam` to compensate for
    * the fraction of visited nodes the gate rejects — recall vs
    * selectivity is measured by the `filtered_ann_graph_walk` keyed
    * row. An ad-hoc predicate therefore costs ONE ordinary walk —
    * never a quantizer fit or graph build; the pre-built
    * filtered-corpus layout remains the recall-lossless choice for a
    * hot predicate.
    */
  def searchBeamGated(entries: DataFrame, edges: DataFrame, queryVec: Array[Float],
                      k: Int, beam: Int, hops: Int, metric: String,
                      passIds: DataFrame): DataFrame = {
    require(k >= 1)
    val flip = metric == "ip" || metric == "cosine"
    val idCol = passIds.columns.head
    beamStates(entries, edges, queryVec, beam, hops, metric).last
      .join(passIds.select(col(idCol).as("id")), Seq("id"), "leftsemi")
      .orderBy(col("dist"), col("id"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("dist"), col("id"))))
      .select(col("rank"), col("id"),
        roundTo(if (flip) -col("dist") else col("dist"), 4).as("value"))
  }
}
