package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.operators.{Artifacts, BinaryIndex, FlatQuantizer, GraphAnn, GraphMaintenance, GraphQuantizer, IvfIndex, Knn, LshIndex, PqIndex, RoutedGraphQuantizer, RoutedQuantizer, SqIndex, Tombstones, Upsert}

/** Index kinds, mirroring the reference's `IndexType`
  * (reference: src/core/index_factory.rs:72-168). `FLAT` is exact brute
  * force in both engines; the reference's two ANN graph backends (HNSW,
  * USEARCH) map to the distributed ANN layouts with the same contract —
  * approximate k-NN with tunable recall: `IVF` (cluster pruning),
  * `LSH` (hyperplane buckets), `BINARY` (training-free sign-bit
  * hamming candidates + exact re-rank, the faiss IndexBinaryFlat
  * analog), and `PQ` (product-quantized ADC candidates + exact
  * re-rank — the faiss "PQx" compression family; saved layouts keep
  * the 8-byte codes column hot and touch raw vectors only for
  * re-ranked survivors), `IVFPQ` (the faiss "IVFx,PQy" workhorse:
  * cluster partition-prune × narrow codes scan × by-id re-rank — the
  * three multiplied savings), and `SQ8` (per-dimension scalar
  * quantization: training bounds instead of codebooks, 1 byte/dim,
  * reconstruction-distance candidates + exact re-rank).
  */
sealed trait IndexType
object IndexType {
  case object FLAT extends IndexType
  case object IVF extends IndexType
  case object LSH extends IndexType
  case object BINARY extends IndexType
  case object PQ extends IndexType
  case object IVFPQ extends IndexType
  case object SQ8 extends IndexType

  /** Graph-traversal ANN — the DIRECT analog of the reference's two
    * graph backends (HNSW, USEARCH): a k-NN graph blocked by the IVF
    * quantizer, served by a bounded-round greedy beam walk from
    * per-cluster medoid entries ([[graft.operators.GraphAnn]]). Knobs:
    * graphK (degree), graphBeam (ef_search analog), graphHops.
    */
  case object GRAPH extends IndexType
}

/** reference: src/core/index_factory.rs:41-48 (L2, InnerProduct) + the
  * usearch cosine analog.
  */
sealed trait Metric { def name: String }
object Metric {
  case object L2 extends Metric { val name = "l2" }
  case object InnerProduct extends Metric { val name = "ip" }
  case object Cosine extends Metric { val name = "cosine" }
}

/** reference: src/core/index/filter_index.rs Operation::{Equal, NotEqual}. */
sealed trait FilterOp
object FilterOp {
  case object Equal extends FilterOp
  case object NotEqual extends FilterOp
}

/** (index_type, dim, metric_type) — the reference's index registry key
  * (reference: src/core/index_factory.rs IndexKey).
  */
case class IndexKey(indexType: IndexType, dim: Int, metricType: Metric)

/** Recall/latency knobs, the analog of the reference's HNSW parameters
  * (reference: src/core/index_factory.rs:110-123 — M, ef_construction,
  * ef_search): more probed clusters / fewer hash bits / larger probe
  * radius ⇒ higher recall, more data scanned. graphK defaults to 16 —
  * the reference's own M (hnsw_index.rs) and the measured knee of the
  * `ann_graph_degree_curve` artifact (recall@10 0.4 → 0.7 at K = 3 → 16
  * for 4.7× edge storage; K = 32 buys +0.1 for another 1.9×).
  */
case class IndexParams(
    ivfClusters: Int = 16,
    nprobe: Int = 4,
    lshBits: Int = 4,
    lshRadius: Int = 1,
    binaryRerank: Int = 100,
    lshBands: Int = 1,
    pqSubspaces: Int = 8,
    pqRerank: Int = 100,
    sqRerank: Int = 100,
    graphK: Int = 16,
    graphBeam: Int = 8,
    graphHops: Int = 3) {
  require(ivfClusters >= 1 && nprobe >= 1 && lshBits >= 1 && lshRadius >= 0
      && binaryRerank >= 1 && lshBands >= 1 && pqSubspaces >= 1 && pqRerank >= 1
      && sqRerank >= 1 && graphK >= 1 && graphBeam >= 1 && graphHops >= 0,
    "index params must be positive (lshRadius may be 0, graphHops may be 0)")
}

/** The reference engine's five-endpoint surface (create / insert /
  * upsert / query / search — reference: src/router/mod.rs) as an
  * immutable Spark facade. State is a lazy DataFrame `(id LONG,
  * vectors ARRAY<FLOAT>, data STRING-json)`; every mutation returns a
  * new index whose plan Catalyst resolves at action time, so a chain of
  * micro-batch inserts stays one declarative plan. At warehouse scale
  * the state would live in a keyed table (the upsert IS MERGE INTO);
  * nothing here collects to the driver.
  */
class VectorIndex private (
    val key: IndexKey,
    val params: IndexParams,
    private val spark: SparkSession,
    private val state: DataFrame,
    private val loadedCentroids: Option[Array[Array[Float]]] = None,
    private val loadedCodebooks: Option[Array[Array[Array[Float]]]] = None,
    private val loadedBounds: Option[(Array[Double], Array[Double])] = None,
    private val loadedPath: Option[String] = None,
    private val loadedQuantizer: Option[GraphQuantizer] = None,
    private val loadedRouteCents0: () => Option[Array[Array[Float]]] = () => None,
    private val inlineCap: Int = Tombstones.InlineCap) {

  import VectorIndex._

  /** The loaded entry-route MATRIX, memoized per handle but read LAZILY:
    * a handle whose serve calls never route (the below-threshold regime
    * every keyed SF sits in) never pays the route parquet collect at
    * all — the switch decision reads only the `_entrycount` manifest
    * ([[loadedGraphRoute]]). Frozen at build, so memoizing is safe.
    */
  private lazy val loadedRouteCents: Option[Array[Array[Float]]] = loadedRouteCents0()

  private def requireDim(vector: Array[Float]): Unit =
    require(vector.length == key.dim,
      s"vector dim ${vector.length} != index dim ${key.dim}") // reference: BAD_REQUEST

  /** Layout-preserving state swap (delete keeps every row's persisted
    * cluster/bucket assignment valid, so pruning survives). The GRAPH
    * serving layout does not ride along here — path-backed GRAPH
    * mutations maintain the artifact itself ([[maintainedGraph]]) and
    * re-open it instead.
    */
  private def withState(next: DataFrame): VectorIndex =
    new VectorIndex(key, params, spark, next, loadedCentroids, loadedCodebooks, loadedBounds)

  /** Layout-invalidating state swap: new/changed rows have no persisted
    * partition assignment, so drop the layout columns and fall back to
    * the computed-assignment search path.
    */
  private def withFreshState(next: DataFrame): VectorIndex =
    new VectorIndex(key, params, spark, next, None, None, None)

  /** State without persisted-layout columns (for mutations that union).
    * A banded-LSH layout holds one copy of every row per band, so keep a
    * single band (each band is a complete copy) before dropping.
    */
  private def bare: DataFrame = {
    val single = if (state.columns.contains("band")) state.where(col("band") === 0) else state
    single.drop(LayoutCols: _*)
  }

  /** reference: insert_index_handle.rs — append (id, vectors). */
  def insert(id: Long, vector: Array[Float], data: String = null): VectorIndex = {
    requireDim(vector)
    insertAll(rowsDf(spark, Seq((id, vector, Option(data)))))
  }

  /** The path-backed GRAPH handle — serving layout AND frozen coarse
    * quantizer both loaded. When present, mutations MAINTAIN the
    * persisted artifact (incremental edge append / tombstone sidecar)
    * instead of dropping the serving layout and paying a full quantizer
    * refit + graph rebuild on the next search — the 100 TB lifecycle:
    * a 1-row mutation must never turn the next query into a re-index.
    * Mutating through this path writes under the index directory (the
    * reference's mutable-store semantics, db/vector_database.rs);
    * other handles onto the same path observe the mutation.
    */
  private def maintainedGraph: Option[(String, GraphQuantizer)] =
    if (key.indexType != IndexType.GRAPH) None
    else for { p <- loadedPath; q <- loadedQuantizer if !q.isEmpty } yield (p, q)

  /** Re-open the maintained artifact after a mutation: fresh data read
    * (the file listing must include just-appended batches) with the
    * generation-aware tombstone filter applied, same fitted params,
    * same path. The refreshByPath matters for correctness, not just
    * hygiene: the beam walk persists per-hop frames, which registers
    * them in Spark's CacheManager keyed by the CANONICALIZED plan —
    * and a file relation canonicalizes by (rootPaths, schema), NOT by
    * its file listing. Without the refresh, a post-mutation search
    * whose plan matches a pre-mutation one would silently reuse the
    * stale cached frames (stale answers, or FILE_NOT_EXIST after a
    * compact swapped the files underneath).
    */
  private def reopened(view: Tombstones.View): VectorIndex = {
    val p = view.base
    spark.catalog.refreshByPath(p)
    new VectorIndex(key, params, spark, liveGraphData(view.read("data"), p),
      loadedCentroids, loadedCodebooks, loadedBounds, loadedPath, loadedQuantizer,
      loadedRouteCents0, inlineCap)
  }

  /** The same handle with another cap on the tombstone rows its verbs
    * and serve calls fold on the driver ([[Tombstones.View]],
    * [[Tombstones.inlineTombs]]); cap 0 takes the broadcast-join
    * filters everywhere — how the tests pin the two forks to the same
    * answers.
    */
  private[graft] def withInlineCap(cap: Int): VectorIndex =
    new VectorIndex(key, params, spark, state, loadedCentroids, loadedCodebooks,
      loadedBounds, loadedPath, loadedQuantizer, loadedRouteCents0, cap)

  /** Open the verb's artifact view under the lease and settle any
    * crashed predecessor through it, so the verb's probes see a
    * consistent standing state.
    */
  private def openView(p: String, q: GraphQuantizer): Tombstones.View = {
    val view = GraphMaintenance.view(spark, p, inlineCap)
    GraphMaintenance.recoverIfInflight(view, q, params.graphK, key.metricType.name)
    view
  }

  /** Bulk append; `rows` needs columns (id, vectors[, data]). The dim
    * check (reference BAD_REQUEST, app_error.rs) is part of the plan —
    * a raise_error gate inside the vectors column — so it costs no extra
    * job and fires on the first action touching a bad row.
    *
    * On a path-backed GRAPH index the batch routes through
    * [[graft.operators.Knn.appendGraphEdges]]: new-node edges append to
    * the persisted serving layout (append ≡ rebuild, StreamingSpec) and
    * the batch joins its cluster partitions of the data layout — the
    * next search still walks `serve/`, touching only the artifact and
    * the batch, with NO quantizer refit and NO graph rebuild.
    */
  def insertAll(rows: DataFrame): VectorIndex = maintainedGraph match {
    case Some((p, q)) =>
      // single-writer across processes: the new-nodes-only probe and
      // the layout append must not interleave with another writer's
      Artifacts.withLease(spark, p, "VectorIndex.insertAll") {
        val view = openView(p, q)
        val batch = normalize(rows, key.dim)
        // new-nodes-only: a re-ingested LIVE id would duplicate its
        // layout rows and corrupt later batches' candidate sets (upsert
        // is the verb for replacement); probe-pruned via the _ids sidecar
        val dup = Tombstones.takeRows(
          GraphMaintenance.liveOverlap(view, batch.select(col("id"))), 1)
        require(dup.isEmpty,
          s"insertAll is new-nodes-only: id ${dup.headOption.map(_.get(0)).orNull} " +
            "is already live in the standing layout (re-appending would duplicate " +
            "its rows and corrupt later batches' candidate sets; use upsert)")
        // every mutating batch gets its own generation stamp, so a
        // previously-deleted id re-inserted here outlives its tombstone
        // (gen > upto) with no compact needed
        GraphMaintenance.ingest(view, batch, q, params.graphK,
          key.metricType.name, "insert")
        reopened(view)
      }
    case None =>
      withFreshState(bare.unionByName(normalize(rows, key.dim), allowMissingColumns = false))
  }

  /** reference: db/vector_database.rs:24-83 — latest-wins: replace the
    * vector for an existing id and overwrite its scalar document.
    */
  def upsert(id: Long, vector: Array[Float], data: String = null): VectorIndex = {
    requireDim(vector)
    upsertAll(rowsDf(spark, Seq((id, vector, Option(data)))))
  }

  /** On a path-backed GRAPH index the upsert MAINTAINS the serving
    * layout in place — the reference's PRIMARY mutation verb
    * (vector_database.rs:24-83: remove the existing id's vector,
    * re-insert the new one) without ever dropping the persisted
    * layout, and crash-safe in the append-then-publish order
    * ([[graft.operators.GraphMaintenance]]): the batch appends at
    * generation `g` FIRST (new cluster-partition rows + symmetrized
    * serving edges scored against the LIVE standing side, excluding the
    * batch ids' own superseded rows), and only then are the standing
    * rows of the batch's ids tombstoned at `upto = g-1` (one
    * generation-scoped sidecar append — the read filter kills the
    * superseded data rows, medoid entries, and every edge that
    * referenced them, because those all carry gen <= g-1). A crash
    * between the two serves the id at BOTH generations briefly — never
    * at neither — and the `_inflight` marker makes the next verb or
    * load() finish the publish. No k-means refit, no graph rebuild,
    * never stale — a 1-row update costs O(batch × touched clusters),
    * not O(corpus): the standing-id probe prunes through the `_ids`
    * sidecar and the growth policy reads the maintained `_rowcount`
    * manifest. A standing node that pointed at the updated id loses
    * that edge; the re-link heal restores any node this starves below
    * graphK/2 live out-edges, and the entry heal re-seeds any cluster
    * whose medoid entry the mutation killed.
    */
  def upsertAll(rows: DataFrame): VectorIndex = maintainedGraph match {
    case Some((p, q)) =>
      Artifacts.withLease(spark, p, "VectorIndex.upsertAll") {
        val view = openView(p, q)
        GraphMaintenance.ingest(view, normalize(rows, key.dim), q, params.graphK,
          key.metricType.name, "upsert")
        reopened(view)
      }
    case None =>
      withFreshState(Upsert.merge(bare, normalize(rows, key.dim), "id"))
  }

  /** Tombstone a single id (reference: the remove half of
    * VectorDatabase::upsert — FaissIndex::remove_vectors,
    * src/db/vector_database.rs:32-38 — exposed as a standalone verb).
    */
  def delete(id: Long): VectorIndex = {
    import spark.implicits._
    deleteAll(Seq(id).toDF("id"))
  }

  /** Bulk tombstone; `ids` needs an `id` column. One anti join — or,
    * on a path-backed GRAPH index, an append to the artifact's
    * `_tombstones/` sidecar: the serving walk keeps running over the
    * persisted layout with the deleted ids anti-joined out at read
    * (edge dies if EITHER endpoint is deleted), no rebuild, never stale.
    */
  def deleteAll(ids: DataFrame): VectorIndex = maintainedGraph match {
    case Some((p, q)) =>
      Artifacts.withLease(spark, p, "VectorIndex.deleteAll") {
        val view = openView(p, q)
        // the delete advances the generation and tombstones at
        // upto = g-1 ("everything prior"): every current row of the id
        // dies, while the id stays REUSABLE — a later insert/upsert
        // batch carries a higher generation and outlives this
        // tombstone. The marker protocol then heals routing (re-seed a
        // killed medoid entry's cluster, re-link nodes the dead edges
        // starved) and runs the growth policy off the maintained
        // manifest — a crash anywhere resumes at the next verb/load.
        GraphMaintenance.remove(view, ids.select(col("id").cast("long")),
          q, params.graphK, key.metricType.name)
        reopened(view)
      }
    case None =>
      withState(Upsert.delete(state, ids.select(col("id").cast("long")), "id"))
  }

  /** Manual tombstone fold for a path-backed GRAPH index (the twin of
    * the auto-compact policy in [[deleteAll]]): rewrite the data
    * layout, the serving edges and the entries minus the deleted ids
    * and clear the sidecar — answers unchanged (the read-time filter
    * had identical semantics), the anti-joins disappear from every
    * serving plan. No-op on non-path-backed indexes (their deletes
    * already rewrote the in-plan state).
    */
  def compact(): VectorIndex = maintainedGraph match {
    case Some((p, q)) if Tombstones.present(spark, p) =>
      Artifacts.withLease(spark, p, "VectorIndex.compact") {
        val view = openView(p, q)
        Tombstones.compact(view, GraphMaintenance.compactTables)
        GraphMaintenance.afterCompact(view, q, Tombstones.currentGen(spark, p))
        reopened(view)
      }
    case _ => this
  }

  /** Index bookkeeping incl. the tombstone lifecycle state of a
    * path-backed index: live vs physical rows, distinct dead ids, the
    * dead fraction every serving read currently anti-joins away, the
    * recorded auto-compact threshold, and the single-writer lease
    * state (`lease_held` + the holder's payload — a held or orphaned
    * lease is visible here BEFORE a maintenance verb fails on it; the
    * crashed-holder runbook is in README).
    */
  def stats: DataFrame = {
    import spark.implicits._
    val (physical, tomb, ratio) = loadedPath match {
      case Some(p) => (GraphMaintenance.physicalRows(spark, p),
        Tombstones.rowCount(spark, p), Tombstones.policyRatio(spark, p))
      case None => (count, 0L, Tombstones.defaultAutoCompactRatio)
    }
    val lease = loadedPath.flatMap(p => Artifacts.leaseInfo(spark, p))
    // an in-flight marker means a mutation crashed mid-publish (or is
    // running right now, if the lease is held): the next maintenance
    // verb or load() resumes it — visible here BEFORE anything fails
    val inflight = loadedPath.flatMap(p => GraphMaintenance.inflight(spark, p))
    Seq((count, physical, tomb,
      tomb.toDouble / math.max(physical, 1L), ratio,
      lease.isDefined, lease.orNull,
      inflight.map(m => s"${m.verb}@gen${m.gen}").orNull))
      .toDF("n_vectors", "n_physical", "n_tombstones", "dead_fraction",
        "autocompact_threshold", "lease_held", "lease_holder", "inflight")
  }

  /** reference: router/handle/query_handle.rs — point lookup by id. */
  def query(id: Long): DataFrame =
    bare.where(col("id") === id).select("id", "vectors", "data")

  /** Logical cardinality — one per id even on a banded layout (whose
    * physical state holds one copy per band).
    */
  def count: Long = bare.count()

  /** reference: router/handle/search_index_handle.rs:47-105 — k nearest
    * ids with distances, ascending (rank, id, value). FLAT is exact;
    * IVF/LSH take the approximate pruned path.
    */
  def search(vector: Array[Float], k: Int): DataFrame = {
    requireDim(vector)
    require(k >= 1, "k must be at least 1")
    loadedServe match {
      // path-backed GRAPH index: walk the persisted serving layout —
      // maintained across inserts, deletes AND in-place upserts, so no
      // rebuild and no refit after any mutation. Above the route
      // threshold hop 0 prunes to the query's routed cells' entries
      // (a pushed route_cell IN filter on the entries scan).
      case Some((entries, edges)) =>
        val routed = loadedGraphRoute match {
          case Some((rc, rp)) => GraphAnn.routeEntries(entries, rc, vector, rp)
          case None           => entries
        }
        GraphAnn.searchBeam(routed, edges, vector, k,
          params.graphBeam, params.graphHops, key.metricType.name)
      case None => searchFrom(state, vector, k)
    }
  }

  /** The persisted GRAPH serving frames. Inserts keep them current
    * ([[insertAll]] appends the batch's symmetrized edges); deletes AND
    * in-place upserts ride the index-root `_tombstones/` sidecar
    * applied here at read, generation-aware: an entry dies when a
    * tombstone covers its generation; an edge dies when a tombstone of
    * EITHER endpoint covers the EDGE's generation (an upserted id's
    * old edges die, the replacement edges appended at the new
    * generation live). The walk never serves stale without ever
    * rebuilding — no mutation drops the path.
    */
  private def loadedServe: Option[(DataFrame, DataFrame)] =
    loadedPath.map { p =>
      val raw = GraphMaintenance.read(spark, p, "serve/entries")
      // each entry's persisted route cell rides along, so a routed walk
      // reads the build-time assignment
      val cols = Seq(col("id"), col("vec"), col("route_cell"))
      val edgesRaw = GraphMaintenance.read(spark, p, "serve/edges")
      // these frames are REBUILT per serving call, so a bounded sidecar
      // inlines as a literal snapshot (one collect here) instead of the
      // per-action sidecar scan + broadcast the join filters would pay
      // on every driving collect of the walk; over the inline cap the
      // join filters stay — that path's shuffle envelope is the
      // measured at-scale story
      Tombstones.inlineTombs(spark, p, inlineCap) match {
        case Some(m) =>
          (Tombstones.filterGenInline(raw, "id", "gen", m).select(cols: _*),
           Tombstones.filterEdgesGenInline(edgesRaw, "src_id", "dst_id", "gen", m)
             .select(col("src_id"), col("dst_id"), col("dst_vec")))
        case None =>
          (Tombstones.filterGen(raw, p, "id", "gen").select(cols: _*),
           Tombstones.filterEdgesGen(edgesRaw, p, "src_id", "dst_id", "gen")
             .select(col("src_id"), col("dst_id"), col("dst_vec")))
      }
    }

  /** The loaded artifact's entry route — Some only when the layout
    * persists one (`serve/route`) AND the entry count warrants routing
    * ([[graft.operators.GraphAnn.servingRoute]]'s threshold, conf-
    * overridable). Every GRAPH serve arm below composes with this the
    * same way: hop 0 becomes a route_cell equi-join (batch) or a pushed
    * IN filter on the entries scan (single query).
    */
  private def loadedGraphRoute: Option[(Array[Array[Float]], Int)] =
    loadedPath.flatMap { p =>
      // the route MATRIX is memoized in the handle and read lazily
      // ([[loadedRouteCents]] — frozen at build, so the memo never goes
      // stale); the switch DECISION stays per-call AND decides from the
      // driver-side `_entrycount` manifest + the conf threshold (both
      // move under the handle: mutations grow the artifact, tests force
      // the conf), so a declining call — the below-threshold regime —
      // pays zero parquet reads
      if (GraphAnn.readEntryCount(spark, s"$p/serve").exists(_ > GraphAnn.routeThreshold(spark)))
        loadedRouteCents.map(rc => (rc, GraphAnn.RouteProbe))
      else None
    }

  /** The GRAPH serving frames built IN-PLAN over `base` — the
    * fresh-state path (the way IVF refits in-plan): graph blocked by
    * the fitCached quantizer, symmetrized with vectors attached, medoid
    * entries. None when the state is empty (no centroids to fit) —
    * callers degrade to the exact scan.
    */
  private def serveFramesInPlan(base: DataFrame): Option[(DataFrame, DataFrame)] = {
    // adopt-or-refuse at the routed-K threshold: the in-plan fresh-state
    // path fits a FLAT centroid literal, whose sample-fit/driver-array/
    // plan-literal ceilings are exactly what the routed quantizer exists
    // to break — silently keeping it above the threshold would serve a
    // degraded index at the scale where it matters. The persisted
    // lifecycle (save → load → mutate) IS the large-K path and adopts
    // the routed quantizer; a fresh large-K state must go through it.
    require(params.ivfClusters <= RoutedQuantizer.kThreshold(spark),
      s"fresh-state GRAPH serving with ivfClusters=${params.ivfClusters} exceeds " +
        s"the routed-K threshold (${RoutedQuantizer.kThreshold(spark)}): the " +
        "in-plan path would keep a flat K-proportional quantizer literal past " +
        "its scaling ceilings — save() the index and search the loaded handle " +
        "(the persisted lifecycle adopts the routed two-level quantizer)")
    val centroids = IvfIndex.fitCached(base, "vectors", k = params.ivfClusters, seed = 42L)
    if (centroids.isEmpty) None
    else {
      val graph = Knn.knnJoinIvf(base, "id", "vectors", centroids,
        params.graphK, key.metricType.name)
      val (entries, edges) = GraphAnn.servingFrames(graph, base, "id", "vectors", centroids)
      Some((entries.select(col("id"), col("vec")), edges))
    }
  }

  /** Batch search: top-k per query row — the shape a bulk re-embedding
    * or evaluation job uses instead of looping [[search]] (which would
    * run one Spark job per query). `queries` needs columns (q_id,
    * q_vec); FLAT uses the bounded-heap batch kernel directly, IVF
    * routes through the cluster equi-join (O(data × nprobe/K) distance
    * math), LSH falls back to the exact batch kernel (its bucket probe
    * is per-query; batching it degenerates to per-bucket unions).
    */
  def searchBatch(queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    key.indexType match {
      case IndexType.IVF | IndexType.IVFPQ =>
        val centroids = loadedCentroids.getOrElse(
          IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L))
        if (centroids.isEmpty)
          Knn.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
        else
          Knn.searchBatchIvf(bare, "id", "vectors", queries, "q_id", "q_vec",
            centroids, k, nprobe = math.min(params.nprobe, centroids.length),
            metric = key.metricType.name)
      case IndexType.PQ =>
        // batch ADC: ONE codes scan (the loaded codes column if the
        // layout carries it, else an in-plan encode) serves all queries;
        // the exact re-rank applies the index metric
        val books = loadedCodebooks.getOrElse(
          PqIndex.fitCached(bare, "vectors", key.dim, params.pqSubspaces, PqKsub, seed = 42L))
        if (books.isEmpty)
          Knn.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
        else {
          val codes =
            if (state.columns.contains("codes"))
              state.select(col("id"), col("codes").cast("array<int>").as("codes"))
            else
              bare.select(col("id"), PqIndex.encode(col("vectors"), books).as("codes"))
          PqIndex.searchBatchAdc(codes, bare, "id", "vectors",
            queries, "q_id", "q_vec", books,
            k, rerank = math.max(k, params.pqRerank), metric = key.metricType.name)
        }
      case IndexType.BINARY =>
        // one sign-words scan serves all queries; exact re-rank under
        // the index metric (same two-stage contract as single-query)
        BinaryIndex.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec",
          dim = key.dim, k = k, rerank = math.max(k, params.binaryRerank),
          metric = key.metricType.name)
      case IndexType.SQ8 =>
        val (mins, maxs) = loadedBounds.getOrElse(
          SqIndex.fitBoundsCached(bare, "vectors"))
        if (mins.isEmpty)
          Knn.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
        else
          SqIndex.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec",
            mins, maxs, k, rerank = math.max(k, params.sqRerank),
            metric = key.metricType.name)
      case IndexType.GRAPH =>
        // ONE walk plan serves every query, over the loaded serving
        // layout when unmutated, else over the in-plan frames. Above
        // the route threshold hop 0 routes per query map-side (√E
        // route literal + route_cell equi-join) instead of the |q| × E
        // entry cross join — the production wiring of the certified
        // entry route, auto-switched so small-E states keep the exact
        // (and cheaper) full-entry hop 0.
        loadedServe.orElse(serveFramesInPlan(bare)) match {
          case Some((entries, edges)) =>
            GraphAnn.searchBeamBatch(entries, edges, queries, "q_id", "q_vec",
              k, params.graphBeam, params.graphHops, key.metricType.name,
              route = loadedGraphRoute, maxChunk = GraphAnn.chunkBudget(spark))
          case None =>
            Knn.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
        }
      case _ =>
        Knn.searchBatch(bare, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
    }
  }

  /** Diversified batch search: fetch each query's cosine top-`fetchK`,
    * then MMR re-rank (λ = lambda10/10) down to `k` — the
    * redundancy-aware result list a RAG retriever wants when the store
    * holds near-duplicates. Runs [[searchBatch]]'s bounded-heap kernel
    * for candidates, then [[Knn.mmrDiversify]]'s per-query greedy pass
    * (O(queries × fetchK²), never corpus-quadratic).
    */
  def searchDiverse(queries: DataFrame, k: Int, fetchK: Int,
                    lambda10: Int = 7): DataFrame = {
    require(k >= 1 && fetchK >= k, "need fetchK >= k >= 1")
    val cand = searchBatch(queries, fetchK)
      .select(col("q_id"), col("n_id"))
      .join(bare.select(col("id").as("n_id"), col("vectors").as("c_vec")), "n_id")
      .join(queries.select(col("q_id"), col("q_vec")), "q_id")
    Knn.mmrDiversify(cand, "q_id", "n_id", "q_vec", "c_vec", k, lambda10)
      .select(col("q_id"), col("pick"), col("vec_id").as("n_id"),
        graft.functions.roundTo(col("sc6").cast("double") / lit(1.0e7), 4).as("mmr"))
  }

  /** reference: core/index/filter_index.rs:23-104 — int-field pre-filter
    * (`field` is a top-level int field of the json `data` document) then
    * k-NN over the surviving ids.
    *
    * On a PATH-BACKED GRAPH index this is the reference's own mechanism
    * (hnsw_index.rs search_vectors_filter): the walk runs over the ONE
    * standing serving layout and the predicate gates candidates at the
    * CUT, with the beam widened by a measured-selectivity estimate
    * (clamp(beam₀/sel, beam₀, [[VectorIndex.GraphFilterBeamMax]]),
    * exact-scan fallback below the floor) to compensate for
    * the fraction of visited nodes the filter rejects — an AD-HOC
    * predicate never pays a quantizer fit or graph build (at 100 TB a
    * user with changing filters cannot pre-build per predicate; the
    * `filtered_ann_graph_walk` keyed row prices recall vs selectivity,
    * and a pre-built filtered layout — [[searchFrom]] over a filtered
    * fresh state — remains the recall-lossless option for a HOT
    * predicate). Non-loaded states keep the build-over-filtered-base
    * path (they pay the fit either way).
    */
  def searchFiltered(vector: Array[Float], k: Int,
                     field: String, op: FilterOp, value: Long): DataFrame = {
    requireDim(vector)
    val f = get_json_object(col("data"), s"$$.$field").cast("long")
    val pred = op match {
      case FilterOp.Equal    => f === value
      case FilterOp.NotEqual => f =!= value
    }
    loadedServe match {
      case Some((entries, edges)) if key.indexType == IndexType.GRAPH =>
        val pass = state.where(pred).select(col("id"))
        // walk-time cardinality estimate: the pass count (one narrow
        // predicate scan — the gate join needs this set anyway) over
        // the maintained `_rowcount` manifest. A FIXED multiplier
        // under-compensates hot low-selectivity predicates (recall
        // hole) and over-pays high-selectivity ones — the index's own
        // filtered_ann_graph_walk readout prices exactly this, so the
        // beam scales with 1/selectivity: clamp(beam₀/sel, beam₀,
        // GraphFilterBeamMax). physicalRows includes superseded rows,
        // which UNDERestimates selectivity — the safe direction (a
        // wider beam, never a recall hole).
        val nPass = pass.count()
        val total = loadedPath.map(p => GraphMaintenance.physicalRows(spark, p))
          .getOrElse(math.max(nPass, 1L))
        val sel = nPass.toDouble / math.max(total, 1L)
        if (nPass == 0L || sel < 1.0 / VectorIndex.GraphFilterBeamMax)
          // below the compensation floor no affordable beam recovers
          // recall through the gate — but the pass set is TINY, so the
          // exact scan over it is both cheaper and recall-lossless
          Knn.searchExact(state.where(pred), "id", "vectors", vector, k,
            key.metricType.name)
        else {
          val beam = math.min(VectorIndex.GraphFilterBeamMax,
            math.max(params.graphBeam, math.ceil(params.graphBeam / sel).toInt))
          // the gated walk composes with the entry route exactly like
          // the unfiltered arms (and the batch twin): hop 0 prunes to
          // the query's routed cells above the threshold
          val routed = loadedGraphRoute match {
            case Some((rc, rp)) => GraphAnn.routeEntries(entries, rc, vector, rp)
            case None           => entries
          }
          GraphAnn.searchBeamGated(routed, edges, vector, k, beam,
            params.graphHops, key.metricType.name, pass)
        }
      case _ => searchFrom(state.where(pred), vector, k)
    }
  }

  /** Filtered BATCH search — [[searchFiltered]] composed with
    * [[searchBatch]] (reference: hnsw_index.rs search_vectors_filter ×
    * the batch evaluation shape): every query row is answered over ONLY
    * the rows satisfying the int-field predicate, in one plan. The
    * filter lands on the BASE side of the batch kernel, so it reaches
    * the one corpus scan (a pushed predicate at scale) and composes
    * with IVF's probed-cluster equi-join — filter ∩ probed clusters
    * both prune the same scan, exactly like the single-query
    * [[searchFiltered]]. Centroids are fit on the FULL table (the
    * filter narrows the SEARCH, not the index). Quantized backends
    * (PQ/SQ8/BINARY) route through the exact batch kernel over the
    * filtered base: their coarse codes do not carry the filter field,
    * so a code-scan-then-post-filter could silently under-fill k — the
    * exact path is the honest one.
    */
  def searchBatchFiltered(queries: DataFrame, k: Int,
                          field: String, op: FilterOp, value: Long): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val f = get_json_object(col("data"), s"$$.$field").cast("long")
    val pred = op match {
      case FilterOp.Equal    => f === value
      case FilterOp.NotEqual => f =!= value
    }
    val base = bare.where(pred)
    key.indexType match {
      case IndexType.IVF | IndexType.IVFPQ =>
        val centroids = loadedCentroids.getOrElse(
          IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L))
        if (centroids.isEmpty)
          Knn.searchBatch(base, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
        else
          Knn.searchBatchIvf(base, "id", "vectors", queries, "q_id", "q_vec",
            centroids, k, nprobe = math.min(params.nprobe, centroids.length),
            metric = key.metricType.name)
      case IndexType.GRAPH if loadedServe.isDefined =>
        // batch twin of the loaded-GRAPH [[searchFiltered]] arm
        // (reference: hnsw_index.rs search_vectors_filter × the batch
        // shape): ONE gated walk of the standing layout serves every
        // query — candidates gate at the per-query cut, the beam widens
        // by the same measured-selectivity compensation, the sub-floor
        // regime falls back to the exact batch kernel over the (tiny)
        // pass set, and the walk composes with the entry route exactly
        // like the unfiltered batch arm.
        val Some((entries, edges)) = loadedServe
        val pass = state.where(pred).select(col("id"))
        val nPass = pass.count()
        val total = loadedPath.map(p => GraphMaintenance.physicalRows(spark, p))
          .getOrElse(math.max(nPass, 1L))
        val sel = nPass.toDouble / math.max(total, 1L)
        if (nPass == 0L || sel < 1.0 / VectorIndex.GraphFilterBeamMax)
          Knn.searchBatch(base, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
        else {
          val beam = math.min(VectorIndex.GraphFilterBeamMax,
            math.max(params.graphBeam, math.ceil(params.graphBeam / sel).toInt))
          GraphAnn.searchBeamBatch(entries, edges, queries, "q_id", "q_vec",
            k, beam, params.graphHops, key.metricType.name,
            route = loadedGraphRoute, maxChunk = GraphAnn.chunkBudget(spark),
            gate = Some(pass))
        }
      case _ =>
        Knn.searchBatch(base, "id", "vectors", queries, "q_id", "q_vec", k, key.metricType.name)
    }
  }

  private def searchFrom(base: DataFrame, vector: Array[Float], k: Int): DataFrame =
    key.indexType match {
      case IndexType.FLAT =>
        Knn.searchExact(base, "id", "vectors", vector, k, key.metricType.name)
      case IndexType.IVF =>
        loadedCentroids match {
          // Loaded layout: `cluster` is the parquet partition column, so
          // the nprobe filter prunes at file-listing time — no KMeans, no
          // per-row assignment, zero IO for unprobed clusters.
          case Some(c) if base.columns.contains("cluster") =>
            val probed = IvfIndex.probes(vector, c, math.min(params.nprobe, c.length))
            Knn.searchExact(base.where(col("cluster").isin(probed: _*)),
              "id", "vectors", vector, k, key.metricType.name)
          case _ =>
            // fitCached: repeated searches against one state reuse the coarse
            // quantizer (the reference's IndexFactory registry); an empty
            // state yields no centroids and degrades to the FLAT path, which
            // returns empty instead of KMeans throwing.
            val centroids = IvfIndex.fitCached(base, "vectors", k = params.ivfClusters, seed = 42L)
            if (centroids.isEmpty)
              Knn.searchExact(base, "id", "vectors", vector, k, key.metricType.name)
            else
              IvfIndex.search(base, "id", "vectors", centroids, vector, k,
                nprobe = math.min(params.nprobe, centroids.length), metric = key.metricType.name)
        }
      case IndexType.LSH if params.lshBands > 1 =>
        // banded (OR-amplified) LSH: same total bits spent as
        // bands × nBits single tables — recall 1-(1-p^nBits)^bands
        val bp = LshIndex.bandPlanes(params.lshBands, params.lshBits, key.dim, seed = 42L)
        if (base.columns.contains("band"))
          // Loaded layout: (band, bucket) partition columns — the any-band
          // probe disjunction prunes at file-listing time.
          LshIndex.searchBandedPruned(base, "id", "vectors", bp, vector, k,
            radius = params.lshRadius, metric = key.metricType.name)
        else
          LshIndex.searchBanded(base, "id", "vectors", bp, vector, k,
            radius = params.lshRadius, metric = key.metricType.name)
      case IndexType.LSH =>
        val planes = LshIndex.planes(nBits = params.lshBits, dim = key.dim, seed = 42L)
        if (base.columns.contains("bucket")) {
          // Loaded layout: bucket partition column — multi-probe becomes a
          // file-listing prune (planes are seed-deterministic, nothing to load).
          val probed = LshIndex.probeBuckets(
            LshIndex.bucketOf(vector, planes), planes.length, params.lshRadius)
          Knn.searchExact(base.where(col("bucket").isin(probed: _*)),
            "id", "vectors", vector, k, key.metricType.name)
        } else
          LshIndex.search(base, "id", "vectors", planes, vector, k,
            radius = params.lshRadius, metric = key.metricType.name)
      case IndexType.BINARY =>
        // training-free: sign words recompute map-side on every search,
        // so there is no layout column to preserve or reload (and the
        // empty state degrades for free — no fitted artifact to miss)
        BinaryIndex.search(base, "id", "vectors", vector, k,
          rerank = math.max(k, params.binaryRerank), metric = key.metricType.name)
      case IndexType.PQ =>
        val books = loadedCodebooks.getOrElse(
          PqIndex.fitCached(bare, "vectors", key.dim, params.pqSubspaces, PqKsub, seed = 42L))
        if (books.isEmpty)
          Knn.searchExact(base, "id", "vectors", vector, k, key.metricType.name)
        else {
          // Loaded layout: the persisted codes column makes the ADC
          // stage a narrow id+codes columnar scan; fresh/mutated states
          // encode map-side from the vectors (at scale that select IS
          // the ingest-time codes materialization).
          val codesCol = if (base.columns.contains("codes")) Some("codes") else None
          PqIndex.searchAnyMetric(base, "id", "vectors", codesCol, books, vector, k,
            rerank = math.max(k, params.pqRerank), metric = key.metricType.name)
        }
      case IndexType.IVFPQ =>
        // the faiss "IVFx,PQy" composition: coarse cluster prune (a
        // file-listing partition prune on a loaded layout), ADC over the
        // 8-byte codes of the survivors, exact re-rank under the metric
        val centroids = loadedCentroids.getOrElse(
          IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L))
        val books = loadedCodebooks.getOrElse(
          PqIndex.fitCached(bare, "vectors", key.dim, params.pqSubspaces, PqKsub, seed = 42L))
        if (centroids.isEmpty || books.isEmpty)
          Knn.searchExact(base, "id", "vectors", vector, k, key.metricType.name)
        else {
          val probed = IvfIndex.probes(vector, centroids, math.min(params.nprobe, centroids.length))
          val pruned =
            if (base.columns.contains("cluster")) base.where(col("cluster").isin(probed: _*))
            else base.where(IvfIndex.assign(col("vectors"), centroids).isin(probed: _*))
          val codesCol = if (base.columns.contains("codes")) Some("codes") else None
          PqIndex.searchAnyMetric(pruned, "id", "vectors", codesCol, books, vector, k,
            rerank = math.max(k, params.pqRerank), metric = key.metricType.name)
        }
      case IndexType.SQ8 =>
        // training bounds instead of codebooks (1 byte/dim); candidates
        // by distance-to-reconstruction in one codegen scan, exact
        // re-rank under the metric. No pruning layout — like BINARY the
        // coarse scan touches every row, just 4x narrower at scale.
        val (mins, maxs) = loadedBounds.getOrElse(
          SqIndex.fitBoundsCached(bare, "vectors"))
        if (mins.isEmpty)
          Knn.searchExact(base, "id", "vectors", vector, k, key.metricType.name)
        else
          SqIndex.searchAnyMetric(base, "id", "vectors", mins, maxs, vector, k,
            rerank = math.max(k, params.sqRerank), metric = key.metricType.name)
      case IndexType.GRAPH =>
        // in-plan serving build over `base` — correct under filters and
        // mutations alike (a filtered base yields the graph OF the
        // filtered corpus, the searchFiltered contract); the loaded
        // fast path lives in [[search]]. Empty state degrades exact.
        serveFramesInPlan(base) match {
          case Some((entries, edges)) =>
            GraphAnn.searchBeam(entries, edges, vector, k,
              params.graphBeam, params.graphHops, key.metricType.name)
          case None =>
            Knn.searchExact(base, "id", "vectors", vector, k, key.metricType.name)
        }
    }

  /** k-NN GRAPH over the whole index: every vector's top-k neighbors in
    * one query (the bulk artifact behind near-dup mining and graph
    * clustering — faiss `knn(index, xb, xb)`). IVF indexes block pairs
    * by their coarse cluster (Σ|cluster|² work, approximate); FLAT/LSH
    * and empty-centroid states run exact via the degenerate one-cluster
    * blocking (everything co-blocked — quadratic, the honest exact
    * contract).
    */
  def knnGraph(k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val centroids = key.indexType match {
      case IndexType.IVF | IndexType.IVFPQ =>
        loadedCentroids.getOrElse(
          IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L))
      case _ => Array.empty[Array[Float]]
    }
    val blocking = if (centroids.isEmpty) Array(Array.fill(key.dim)(0f)) else centroids
    Knn.knnJoinIvf(bare, "id", "vectors", blocking, k, key.metricType.name)
  }

  /** Persist the index under `path` so a restarted engine serves without
    * rebuilding (the reference's restart story: RocksDB scalar store +
    * faiss index files, src/db/scalar_storage.rs). Layout:
    * `path/meta` (1-row parquet: key + params), `path/data` (the state —
    * partitioned by cluster / bucket for IVF / LSH so [[load]]ed searches
    * prune at file-listing time), `path/centroids` (IVF only).
    */
  def save(path: String): Unit = {
    import spark.implicits._
    Seq((key.indexType.toString, key.dim, key.metricType.name,
        params.ivfClusters, params.nprobe, params.lshBits, params.lshRadius,
        params.binaryRerank, params.lshBands, params.pqSubspaces, params.pqRerank,
        params.sqRerank, params.graphK, params.graphBeam, params.graphHops))
      .toDF(MetaSchema.fieldNames.toSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    key.indexType match {
      case IndexType.IVF =>
        val centroids = IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L)
        if (centroids.isEmpty) bare.write.mode("overwrite").parquet(s"$path/data")
        else {
          IvfIndex.writeCentroids(spark, centroids, s"$path/centroids")
          IvfIndex.writePartitioned(bare, "vectors", centroids, s"$path/data")
        }
      case IndexType.LSH =>
        // A partitionBy write of an empty DataFrame emits no part files and
        // load() would fail schema inference — same guard as the IVF branch.
        if (bare.isEmpty) bare.write.mode("overwrite").parquet(s"$path/data")
        else if (params.lshBands > 1)
          LshIndex.writeBandPartitioned(bare, "vectors",
            LshIndex.bandPlanes(params.lshBands, params.lshBits, key.dim, seed = 42L),
            s"$path/data")
        else LshIndex.writePartitioned(bare, "vectors",
          LshIndex.planes(nBits = params.lshBits, dim = key.dim, seed = 42L), s"$path/data")
      case IndexType.PQ =>
        // "codes hot, vectors cold": the persisted rows carry the 8-byte
        // codes column next to the raw vectors — a loaded ADC scan reads
        // only (id, codes) via parquet column pruning, and the exact
        // re-rank joins the vectors column for `pqRerank` survivors.
        val books = PqIndex.fitCached(bare, "vectors", key.dim, params.pqSubspaces, PqKsub, seed = 42L)
        if (books.isEmpty) bare.write.mode("overwrite").parquet(s"$path/data")
        else {
          PqIndex.writeCodebooks(spark, books, s"$path/codebooks")
          bare.withColumn("codes",
              PqIndex.encode(col("vectors"), books).cast("array<tinyint>"))
            .write.mode("overwrite").parquet(s"$path/data")
        }
      case IndexType.IVFPQ =>
        // both trained artifacts persist; data partitions by cluster
        // (file-listing prune) AND carries the codes column (narrow ADC
        // scan inside the surviving partitions) — the layout that makes
        // the three multiplied savings real on reload
        val centroids = IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L)
        val books = PqIndex.fitCached(bare, "vectors", key.dim, params.pqSubspaces, PqKsub, seed = 42L)
        if (centroids.isEmpty || books.isEmpty)
          bare.write.mode("overwrite").parquet(s"$path/data")
        else {
          IvfIndex.writeCentroids(spark, centroids, s"$path/centroids")
          PqIndex.writeCodebooks(spark, books, s"$path/codebooks")
          bare
            .withColumn("codes", PqIndex.encode(col("vectors"), books).cast("array<tinyint>"))
            .withColumn("cluster", IvfIndex.assign(col("vectors"), centroids))
            .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/data")
        }
      case IndexType.SQ8 =>
        // dim tiny (mn, mx) rows — the trained artifact; the data itself
        // needs no layout column (the coarse scan reads every row)
        val (mins, maxs) = SqIndex.fitBoundsCached(bare, "vectors")
        if (mins.nonEmpty) SqIndex.writeBounds(spark, mins, maxs, s"$path/bounds")
        bare.write.mode("overwrite").parquet(s"$path/data")
      case IndexType.GRAPH =>
        // three co-persisted artifacts: the frozen coarse quantizer
        // (flat literal at small K, the two-level routed TABLE above
        // the K threshold — the reference's primary index keeps its
        // hierarchy across mutations, vector_database.rs:24-83, and so
        // does this lifecycle), the cluster-partitioned data layout
        // (the standing side incremental inserts prune at file-listing
        // time), and the serving layout (symmetrized vectors-on-edges +
        // medoid entries + the entry route) — a loaded index both WALKS
        // and MAINTAINS them with no refit, no rebuild
        val q: GraphQuantizer =
          if (params.ivfClusters > RoutedQuantizer.kThreshold(spark))
            RoutedGraphQuantizer(
              RoutedQuantizer.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L))
          else
            FlatQuantizer(IvfIndex.fitCached(bare, "vectors", k = params.ivfClusters, seed = 42L))
        val qdir = new org.apache.hadoop.fs.Path(s"$path/quantizer")
        val qfs = qdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!q.isEmpty) {
          // persist the quantizer in its own shape; a re-save that
          // switched branches must not leave the OTHER shape behind
          // (load detects the kind by which directory exists)
          q match {
            case FlatQuantizer(c) =>
              IvfIndex.writeCentroids(spark, c, s"$path/centroids")
              if (qfs.exists(qdir)) qfs.delete(qdir, true)
            case RoutedGraphQuantizer(rq) =>
              RoutedQuantizer.write(spark, rq, s"$path/quantizer")
              val cp = new org.apache.hadoop.fs.Path(s"$path/centroids")
              if (qfs.exists(cp)) qfs.delete(cp, true)
          }
          // generation 0 = the build; mutating batches stamp 1, 2, ...
          // so generation-scoped tombstones can supersede exactly the
          // rows/edges a given batch replaced
          q.withCluster(bare.withColumn("gen", lit(0L)), "vectors")
            .write.mode("overwrite").partitionBy("cluster").parquet(s"$path/data")
          GraphAnn.buildServingMaintained(
            Knn.knnJoinQ(bare, "id", "vectors", q, params.graphK, key.metricType.name),
            bare, "id", "vectors", q, s"$path/serve", gen = 0L)
          // mutation bookkeeping sidecars: the id-sorted probe table
          // (standing-id checks prune at row-group grain instead of
          // scanning the data layout) and the growth-policy row count
          GraphMaintenance.writeIds(spark, path,
            bare.select(col("id"), lit(0L).as("gen")))
          GraphMaintenance.writeRowCount(spark, path, bare.count(), 0L)
        } else {
          bare.write.mode("overwrite").parquet(s"$path/data")
          // empty state builds no serving layout — a stale serve/ or
          // quantizer/ dir from a previous save of this path must not
          // survive, or load() would adopt it and serve vectors no
          // longer here
          val sp = new org.apache.hadoop.fs.Path(s"$path/serve")
          val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(sp)) fs.delete(sp, true)
          if (qfs.exists(qdir)) qfs.delete(qdir, true)
        }
        // a save rewrites the artifact from the (already tombstone-
        // filtered) state — the previous path generation's sidecar,
        // generation counter and mutation-protocol manifests must not
        // outlive it
        Tombstones.clear(spark, path)
        Tombstones.clearGen(spark, path)
        GraphMaintenance.clearMarker(spark, path)
        if (q.isEmpty) {
          GraphMaintenance.clearRowCount(spark, path)
          val ip = new org.apache.hadoop.fs.Path(s"$path/_ids")
          val ifs = ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (ifs.exists(ip)) ifs.delete(ip, true)
        }
      case IndexType.FLAT | IndexType.BINARY =>
        // BINARY's sign words are a training-free map-side derivation, so
        // the persisted form is just the data (a hamming scan reads every
        // row anyway — there is no pruning layout to materialize)
        bare.write.mode("overwrite").parquet(s"$path/data")
    }
  }
}

object VectorIndex {

  /** Persisted-layout columns that only exist on a [[load]]ed state. */
  private val LayoutCols = Seq("cluster", "bucket", "band", "codes")

  /** The 1-row `meta` table [[VectorIndex#save]] writes: key + params. */
  private val MetaSchema = StructType(
    Seq(StructField("index_type", StringType), StructField("dim", IntegerType),
      StructField("metric", StringType)) ++
    Seq("ivf_clusters", "nprobe", "lsh_bits", "lsh_radius", "binary_rerank", "lsh_bands",
      "pq_m", "pq_rerank", "sq_rerank", "graph_k", "graph_beam", "graph_hops")
      .map(StructField(_, IntegerType)))

  /** The manifests every maintained GRAPH artifact carries beside its
    * layout tables: the standing-id probe table, the growth-policy row
    * count and the live entry count (a `_tmp` twin is a complete copy a
    * crashed rename left behind, which the readers adopt).
    */
  private val MaintainedManifests = Seq("_ids", "_rowcount", "serve/_entrycount")

  /** Beam ceiling for walk-time filtered GRAPH search (reference:
    * hnsw_index.rs search_vectors_filter widens ef the same way). The
    * beam ADAPTS to a measured selectivity estimate — beam =
    * clamp(beam₀/sel, beam₀, this) — replacing the old fixed ×4
    * multiplier that under-compensated below sel = 1/4 and over-paid
    * above it; below sel = 1/GraphFilterBeamMax the compensation can't
    * reach 1/sel anymore and the search falls back to an exact scan of
    * the (tiny) pass set instead — recall-lossless by construction.
    */
  private[api] val GraphFilterBeamMax = 64

  /** Sub-quantizer codebook size (4-bit codes; the 8×16 convention the
    * PQ query family fixes — 8 bytes of code per 64-dim vector).
    */
  private val PqKsub = 16

  /** The LIVE rows of a maintained GRAPH artifact's data table: its
    * generation-stamped read `data` under the generation-aware
    * tombstone filter, gen dropped so the state looks like any other
    * loaded state downstream.
    */
  private def liveGraphData(data: DataFrame, p: String): DataFrame =
    Tombstones.filterGen(data, p, "id", "gen").drop("gen")

  /** reference: router/handle/create_index_handle.rs — registry init
    * keyed by (index_type, dim, metric_type); dim must be ≥ 1.
    */
  def create(spark: SparkSession, indexType: IndexType, dim: Int, metricType: Metric,
             params: IndexParams = IndexParams()): VectorIndex = {
    require(dim >= 1, "dim must be at least 1")
    require((indexType != IndexType.PQ && indexType != IndexType.IVFPQ)
        || dim % params.pqSubspaces == 0,
      s"PQ needs dim divisible by pqSubspaces (${params.pqSubspaces})")
    val empty = rowsDf(spark, Seq.empty)
    new VectorIndex(IndexKey(indexType, dim, metricType), params, spark, empty)
  }

  /** Reopen a [[VectorIndex#save]]d index. The data scan stays lazy (at
    * 100 TB nothing is read until a search, and IVF/LSH searches then
    * read only the probed partitions); only the 1-row meta and the tiny
    * centroid matrix hit the driver.
    */
  def load(spark: SparkSession, path: String): VectorIndex = {
    // drop any cached frames this session holds over the path: another
    // process (or an earlier handle) may have mutated the artifact, and
    // plan-canonicalized cache reuse would otherwise serve them stale
    // (see [[VectorIndex#reopened]])
    spark.catalog.refreshByPath(path)
    val m = spark.read.schema(MetaSchema).parquet(s"$path/meta").collect().head
    val indexType = m.getAs[String]("index_type") match {
      case "FLAT"   => IndexType.FLAT
      case "IVF"    => IndexType.IVF
      case "LSH"    => IndexType.LSH
      case "BINARY" => IndexType.BINARY
      case "PQ"     => IndexType.PQ
      case "IVFPQ"  => IndexType.IVFPQ
      case "SQ8"    => IndexType.SQ8
      case "GRAPH"  => IndexType.GRAPH
      case other    => throw new IllegalArgumentException(s"unknown index_type $other")
    }
    val metric = m.getAs[String]("metric") match {
      case "l2"     => Metric.L2
      case "ip"     => Metric.InnerProduct
      case "cosine" => Metric.Cosine
      case other    => throw new IllegalArgumentException(s"unknown metric $other")
    }
    def int(name: String): Int = m.getAs[Int](name)
    val params = IndexParams(int("ivf_clusters"), int("nprobe"), int("lsh_bits"),
      int("lsh_radius"), int("binary_rerank"), int("lsh_bands"), int("pq_m"),
      int("pq_rerank"), int("sq_rerank"), int("graph_k"), int("graph_beam"), int("graph_hops"))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(rel: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$path/$rel"))
    // a crash between the renames of a tombstone fold (compact() or the
    // auto-compact inside the mutation protocol) can leave any of the
    // layout tables aside under _tomb_* names — repair before reading
    if (indexType == IndexType.GRAPH)
      for (rel <- Seq("data", "serve/edges", "serve/entries", "_ids"))
        Tombstones.recover(spark, s"$path/$rel")
    // a GRAPH save of a non-empty state writes the serving layout, the
    // frozen quantizer and the mutation manifests: the artifact the
    // verbs maintain in place (an empty save writes the data table alone)
    val maintained = indexType == IndexType.GRAPH && exists("serve")
    if (maintained) {
      val missing = MaintainedManifests.filterNot(r => exists(r) || exists(s"${r}_tmp"))
      require(missing.isEmpty,
        s"$path is a maintained GRAPH index without ${missing.mkString(", ")}, a layout " +
          "only older builds wrote — re-save the index from its source rows")
    }
    // the frozen GRAPH blocking quantizer, in whichever shape the save
    // persisted: the routed TABLE (`quantizer/`, large-K saves) or the
    // flat literal (`centroids`)
    val quantizer: Option[GraphQuantizer] =
      if (!maintained) None
      else if (exists("quantizer"))
        Some(RoutedGraphQuantizer(RoutedQuantizer.read(spark, s"$path/quantizer")))
      else Some(FlatQuantizer(IvfIndex.readCentroids(spark, s"$path/centroids")))
    // a crashed mutation leaves its `_inflight` marker: finish its
    // publish (serve edges / tombstones / heals) so this load serves
    // the batch's latest state, not the mid-protocol one. Needs the
    // single-writer lease — if another writer holds it, IT owns the
    // marker (live mutation or the crashed-holder runbook in README),
    // so a concurrent load just reads the transient-but-safe state.
    if (maintained && GraphMaintenance.inflight(spark, path).isDefined
        && Artifacts.leaseInfo(spark, path).isEmpty) {
      try Artifacts.withLease(spark, path, "VectorIndex.load/recover") {
        GraphMaintenance.recoverIfInflight(GraphMaintenance.view(spark, path),
          quantizer.get, params.graphK, metric.name)
      } catch {
        // lost the acquire race to a live writer — it will recover
        case _: IllegalStateException => ()
      }
    }
    // the root tombstone sidecar (path-backed GRAPH deletes/upserts)
    // applies to every read of the data table, generation-aware for
    // GRAPH (upserted ids' superseded rows die, their replacements
    // live); absent sidecar = unchanged plan
    val state =
      if (maintained) liveGraphData(GraphMaintenance.read(spark, path, "data"), path)
      else Tombstones.filter(spark.read.parquet(s"$path/data"), path, "id")
    val centroids =
      if ((indexType == IndexType.IVF || indexType == IndexType.IVFPQ)
          && state.columns.contains("cluster"))
        Some(IvfIndex.readCentroids(spark, s"$path/centroids"))
      else quantizer.collect { case FlatQuantizer(c) => c }
    val codebooks =
      if ((indexType == IndexType.PQ || indexType == IndexType.IVFPQ)
          && state.columns.contains("codes"))
        Some(PqIndex.readCodebooks(spark, s"$path/codebooks"))
      else None
    // a bounds dir exists iff the saved SQ8 state was non-empty
    val bounds =
      if (indexType == IndexType.SQ8 && exists("bounds"))
        Some(SqIndex.readBounds(spark, s"$path/bounds"))
      else None
    val rootPath = if (maintained) Some(path) else None
    // the entry-route MATRIX is frozen at build (mutations only
    // re-ASSIGN against it), so the handle memoizes it — but the READ
    // is deferred to the first serve call that actually routes: the
    // below-threshold regime never pays the route parquet collect, and
    // the per-call switch reads only driver-side manifests
    lazy val routeCents = rootPath.map(p => IvfIndex.readCentroids(spark, s"$p/serve/route"))
    new VectorIndex(IndexKey(indexType, int("dim"), metric), params, spark,
      state, centroids, codebooks, bounds, rootPath, quantizer, () => routeCents)
  }

  private def rowsDf(spark: SparkSession, rows: Seq[(Long, Array[Float], Option[String])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "vectors", "data")
  }

  private def normalize(rows: DataFrame, dim: Int): DataFrame = {
    val withData = if (rows.columns.contains("data")) rows
                   else rows.withColumn("data", lit(null).cast("string"))
    // the bulk-path dim contract (reference: BAD_REQUEST, app_error.rs)
    // lives INSIDE the vectors expression so column pruning can never
    // drop it while the vectors themselves are in use
    val checked = when(size(col("vectors")) === dim, col("vectors").cast("array<float>"))
      .otherwise(raise_error(concat(
        lit("vector dim "), size(col("vectors")).cast("string"), lit(s" != index dim $dim"))))
    withData.select(col("id").cast("long"),
      checked.as("vectors"), col("data").cast("string"))
  }
}
