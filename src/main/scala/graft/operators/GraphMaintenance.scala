package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** The crash-safe mutation protocol for a path-backed GRAPH artifact —
  * the maintained-serving lifecycle behind
  * [[graft.api.VectorIndex]]'s insert / upsert / delete verbs
  * (reference contract: db/vector_database.rs:24-83 latest-wins
  * upsert, faiss_index.rs:131 remove_vectors).
  *
  * Why a protocol: a mutation is several physical steps (advance the
  * `_gen` counter, append the batch to the cluster-partitioned data
  * layout, append its symmetrized serving edges, tombstone the
  * superseded standing rows, heal routing) and a crash between any two
  * must never lose an id. The ordering here makes every step
  * idempotent and the whole sequence resumable:
  *
  *  1. `_inflight` marker (`{verb, gen}`, write-temp-then-rename) lands
  *     FIRST — it is the redo log entry.
  *  2. The DATA batch appends at generation `g` (one atomic Spark write
  *     job). From this moment the replacement rows exist; nothing below
  *     can make an id vanish.
  *  3. [[publish]] finishes everything else, driven only by the
  *     marker and the artifact state — so a crashed mutation is
  *     finished by the next verb's entry recovery or by
  *     [[graft.api.VectorIndex.load]] ([[complete]]): `_ids` append and
  *     serve-edge append (on a RESUMED marker each is skipped if
  *     gen-`g` rows already exist — each write is one atomic job, so
  *     any row means all rows), tombstone of superseded rows at
  *     `upto = g-1` (recomputed from the data itself: ids with rows at
  *     BOTH gen `g` and gen `< g`; re-appending is idempotent under the
  *     max-`upto` read rule), medoid-entry heal, starved-node re-link,
  *     marker clear. The verb that just took `g` from `nextGen` skips
  *     those existence probes: under its lease nothing else can carry
  *     `g` yet.
  *
  * Every step reads through one [[Tombstones.View]] the verb opens
  * after taking the lease: the layout tables under the schemas
  * declared below ([[Schemas]], next to their writers — no table's
  * schema is inferred), the sidecar folded once on the driver and kept
  * current by the verb's own appends. The heals are scoped to the
  * batch: the entry heal and the `_entrycount` rewrite run only when a
  * victim was a live entry or the batch landed in a cluster without
  * one, and the re-link derives its victims, affected and starved sets
  * from the fold plus two IN-pruned collects.
  *
  * Failure modes by window (the crash-injection matrix in ApiSpec):
  * before step 2 — the mutation simply never happened (a generation
  * number is skipped, which nothing observes); between 2 and the
  * tombstone — the id briefly serves BOTH generations (duplicate, never
  * neither) until recovery publishes the tombstone; after the
  * tombstone — only healing remains, and healing is derivable from the
  * live view alone. An id therefore always serves exactly its latest
  * or its pre-batch vector — never neither, never a stale score.
  *
  * Bookkeeping stays O(batch), not O(corpus): the standing-id probe
  * reads the `_ids` sidecar (narrow (id, gen) rows, id-sorted with
  * small row groups so an `id IN (batch)` probe prunes at row-group
  * grain), and the auto-compact policy reads the `_rowcount` manifest
  * (maintained under the lease) instead of counting the data table per
  * mutation.
  */
object GraphMaintenance {

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataPath(p: String) = s"$p/data"
  private def edgesPath(p: String) = s"$p/serve/edges"
  private def entriesPath(p: String) = s"$p/serve/entries"
  private def idsPath(p: String) = s"$p/_ids"

  private val vector = ArrayType(FloatType)

  /** The layout tables of a maintained GRAPH artifact, each with the one
    * schema every writer of it produces: the save
    * ([[graft.api.VectorIndex#save]], [[GraphAnn.buildServingMaintained]],
    * [[writeIds]]), the verbs' appends below ([[ingest]],
    * [[appendServeEdges]], [[refreshEntries]], [[relink]],
    * [[appendIds]]) and the tombstone fold, which rewrites each table
    * from its own read. Every reader reads under these, so no read of
    * the layout infers a schema. `cluster` is the data table's partition
    * column, which a parquet read places last.
    */
  private[graft] val Schemas: Map[String, StructType] = Map(
    "data" -> StructType(Seq(StructField("id", LongType), StructField("vectors", vector),
      StructField("data", StringType), StructField("gen", LongType),
      StructField("cluster", IntegerType))),
    "serve/edges" -> StructType(Seq(StructField("src_id", LongType),
      StructField("dst_id", LongType), StructField("dst_vec", vector),
      StructField("gen", LongType))),
    "serve/entries" -> StructType(Seq(StructField("cluster", IntegerType),
      StructField("id", LongType), StructField("vec", vector),
      StructField("gen", LongType), StructField("route_cell", IntegerType))),
    "_ids" -> StructType(Seq(StructField("id", LongType), StructField("gen", LongType))))

  /** A layout table of the artifact at `p`, under its declared schema. */
  def read(spark: SparkSession, p: String, rel: String): DataFrame =
    spark.read.schema(Schemas(rel)).parquet(s"$p/$rel")

  /** Measurement seam for the recall-under-churn experiment (AnnSpec's
    * CHURN.json): the session conf `spark.graft.graph.heals` (default
    * true) disables the routing heals so the curve can price what they
    * buy — the control arm of the with/without comparison. A conf read
    * once per verb, not a mutable global: the previous `@volatile var`
    * was a race surface (any thread's write changed every in-flight
    * mutation's behavior); a session conf is scoped, observable in the
    * Spark UI, and needs no try/finally discipline beyond unset.
    */
  private def healsEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.graph.heals").forall(_.toBoolean)

  /** Row-group size for serve-edge files: small enough that an
    * `src_id IN (...)` probe (the re-link heal, frontier-style lookups)
    * prunes to a few megabytes regardless of corpus size — with the
    * default 128 MB row groups a range-partitioned edge file is ONE
    * row group and any probe reads the whole file, i.e. grows linearly
    * with the corpus. 4 MB keeps footer overhead negligible for full
    * scans while giving statistics-based pruning real granularity.
    */
  private[operators] val EdgeBlockBytes: Long = 4L << 20

  // ---------------------------------------------------------------- marker

  /** One in-flight mutation: its verb (insert / upsert / delete — only
    * used for observability; recovery derives everything from state)
    * and the generation it stamped.
    */
  final case class Inflight(verb: String, gen: Long)

  private def markerPath(p: String) = new Path(s"$p/_inflight")

  def inflight(spark: SparkSession, p: String): Option[Inflight] = {
    val fs = fsOf(spark, p)
    val mp = markerPath(p)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      val verb = "\"verb\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(raw).map(_.group(1))
      val gen = "\"gen\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(raw).map(_.group(1).toLong)
      Some(Inflight(verb.getOrElse("unknown"), gen.getOrElse(
        throw new IllegalStateException(s"unreadable _inflight marker at $p: '$raw'"))))
    }
  }

  private[graft] def writeMarker(spark: SparkSession, p: String, verb: String, g: Long): Unit = {
    val fs = fsOf(spark, p)
    val tmp = new Path(s"$p/_inflight_tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"verb": "$verb", "gen": $g}""".getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(markerPath(p))) fs.delete(markerPath(p), false)
    require(fs.rename(tmp, markerPath(p)), s"_inflight marker rename failed for $p")
  }

  def clearMarker(spark: SparkSession, p: String): Unit = {
    val fs = fsOf(spark, p)
    if (fs.exists(markerPath(p))) fs.delete(markerPath(p), false)
    val tmp = new Path(s"$p/_inflight_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
  }

  // ------------------------------------------------------------ _ids probe

  /** Max batch ids collected to the driver for an `id IN (...)` probe
    * (row-group-pruned footer read); bigger batches fall back to a
    * distributed semi-join over the narrow sidecar.
    */
  private val ProbeIsinMax = 8192

  /** Append the batch's (id, gen) rows to the `_ids` probe sidecar:
    * id-sorted, one file, 1 MB row groups — so a later standing-id
    * probe for a small batch reads O(touched row groups), flat in
    * corpus size, instead of scanning the data table's id column.
    */
  def appendIds(spark: SparkSession, p: String, ids: DataFrame, g: Long): Unit =
    ids.select(col(ids.columns.head).cast("long").as("id"), lit(g).as("gen"))
      .repartition(1).sortWithinPartitions("id")
      .write.mode("append").option("parquet.block.size", (1L << 20).toString)
      .parquet(idsPath(p))

  /** [[appendIds]] for driver-held ids: sorted here, so the one file is
    * written from a single local partition with no shuffle.
    */
  private def appendIds(spark: SparkSession, p: String, ids: Array[Long], g: Long): Unit = {
    import spark.implicits._
    ids.sorted.toSeq.toDF("id").coalesce(1).withColumn("gen", lit(g))
      .write.mode("append").option("parquet.block.size", (1L << 20).toString)
      .parquet(idsPath(p))
  }

  /** Write the sidecar fresh (save / compact): the full live id set at
    * one generation stamp per row, id-sorted with small row groups.
    */
  def writeIds(spark: SparkSession, p: String, idsWithGen: DataFrame): Unit =
    idsWithGen.select(col("id").cast("long"), col("gen").cast("long"))
      .repartition(1).sortWithinPartitions("id")
      .write.mode("overwrite").option("parquet.block.size", (1L << 20).toString)
      .parquet(idsPath(p))

  /** PHYSICAL standing (id, gen) rows — the `_ids` sidecar
    * (probe-pruned reads instead of a scan of the data layout).
    */
  def standingIds(spark: SparkSession, p: String): DataFrame = read(spark, p, "_ids")

  private def standingIds(view: Tombstones.View): DataFrame = view.read("_ids")

  /** The standing (id, gen) rows whose id appears in `batchIds` — the
    * one probe every mutation needs. Small batches push an `id IN`
    * predicate into the sidecar scan (row-group pruning: flat input
    * bytes as the corpus grows); large batches degrade to a semi-join.
    */
  def standingOverlap(view: Tombstones.View, batchIds: DataFrame): DataFrame = {
    val ids = batchIds.select(col(batchIds.columns.head).cast("long").as("id"))
    Tombstones.collectAtMost(ids, ProbeIsinMax) match {
      case Some(rows) => standingIds(view).where(inIds(col("id"), rows.map(_.getLong(0))))
      case None       => standingIds(view).join(ids, Seq("id"), "leftsemi")
    }
  }

  /** LIVE overlap: the [[standingOverlap]] rows that survive the
    * generation-aware tombstone rule — what the insert verb's
    * new-nodes-only guard checks.
    */
  def liveOverlap(view: Tombstones.View, batchIds: DataFrame): DataFrame =
    view.filterGen(standingOverlap(view, batchIds), "id", "gen")

  // ------------------------------------------------------------- _rowcount

  private def rowcountPath(p: String) = new Path(s"$p/_rowcount")

  /** (physical data rows, as-of generation) — maintained under the
    * lease so [[Tombstones.maybeCompact]]'s growth policy never pays a
    * corpus-wide `count()` per mutation. A crash between
    * [[writeRowCount]]'s delete and rename is healed by adopting the
    * complete temp.
    */
  def readRowCount(spark: SparkSession, p: String): (Long, Long) = {
    val fs = fsOf(spark, p)
    val rp = rowcountPath(p)
    val tmp = new Path(s"$p/_rowcount_tmp")
    if (!fs.exists(rp) && fs.exists(tmp)) fs.rename(tmp, rp)
    val in = fs.open(rp)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    val parts = raw.trim.split(",")
    (parts(0).toLong, parts(1).toLong)
  }

  def writeRowCount(spark: SparkSession, p: String, rows: Long, g: Long): Unit = {
    val fs = fsOf(spark, p)
    val tmp = new Path(s"$p/_rowcount_tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$rows,$g".getBytes("UTF-8")) finally out.close()
    if (fs.exists(rowcountPath(p))) fs.delete(rowcountPath(p), false)
    require(fs.rename(tmp, rowcountPath(p)), s"_rowcount rename failed for $p")
  }

  def clearRowCount(spark: SparkSession, p: String): Unit = {
    val fs = fsOf(spark, p)
    if (fs.exists(rowcountPath(p))) fs.delete(rowcountPath(p), false)
    val tmp = new Path(s"$p/_rowcount_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
  }

  /** Physical data rows for the growth policy: the maintained manifest. */
  def physicalRows(spark: SparkSession, p: String): Long = readRowCount(spark, p)._1

  /** The tables a GRAPH tombstone fold rewrites, each with its
    * persisted layout reproduced (cluster partitioning on data,
    * src-range sort on the serving edges, id sort on the probe
    * sidecar). An edge dies if EITHER endpoint's tombstone covers its
    * generation; a dead medoid entry disappears (and [[refreshEntries]]
    * re-seeds its cluster) — exactly the read-time filter's semantics,
    * so compaction preserves serve-equality.
    */
  val compactTables: Seq[Tombstones.TombTable] = Seq(
    Tombstones.TombTable("data", Seq("id"), partitionCols = Seq("cluster"),
      genCol = Some("gen")),
    Tombstones.TombTable("serve/edges", Seq("src_id", "dst_id"),
      sortCols = Seq("src_id", "dst_id"), genCol = Some("gen"),
      blockBytes = Some(EdgeBlockBytes)),
    Tombstones.TombTable("serve/entries", Seq("id"), genCol = Some("gen")),
    Tombstones.TombTable("_ids", Seq("id"), sortCols = Seq("id"),
      genCol = Some("gen"), blockBytes = Some(1L << 20)))

  // ----------------------------------------------------------------- view

  /** The artifact view a GRAPH verb opens right after it takes the
    * lease ([[Tombstones.View]]): the layout tables under [[Schemas]]
    * and the tombstone sidecar folded on the driver. Every step below
    * reads through it.
    */
  def view(spark: SparkSession, p: String,
           cap: Int = Tombstones.InlineCap): Tombstones.View =
    Tombstones.View(spark, p, Schemas, cap)

  /** True iff `df` has at least one row — one job, however sparse. */
  private def nonEmpty(df: DataFrame): Boolean =
    Tombstones.takeRows(df.select(lit(1)), 1).nonEmpty

  // ---------------------------------------------------------------- verbs

  /** Ingest a normalized batch (insert or upsert — the caller did its
    * verb-specific guards) under the marker protocol. Assumes the lease
    * is held and any PRIOR marker was already completed.
    */
  def ingest(view: Tombstones.View, batch: DataFrame,
             q: GraphQuantizer, k: Int, metric: String,
             verb: String): Unit = {
    val spark = view.spark
    val p = view.base
    val g = Tombstones.nextGen(spark, p)
    writeMarker(spark, p, verb, g)
    // the point of no-loss: once this single atomic write commits, the
    // batch's vectors exist at gen g and every later step only ever
    // ADDS visibility (edges) or REMOVES superseded rows (tombstones).
    // The frozen quantizer (flat literal or routed table) assigns the
    // batch's cluster partitions — the ONE quantizer touch of ingest.
    q.withCluster(batch.withColumn("gen", lit(g)), "vectors")
      .write.mode("append").partitionBy("cluster").parquet(dataPath(p))
    // g came from nextGen under this lease, so nothing but the batch
    // just written can carry it yet: the probes a resumed marker needs
    // (did the batch, its _ids rows, its edges land?) are skipped
    publish(view, q, k, metric, g, landed = Some(true))
  }

  /** Tombstone `ids` under the marker protocol: the delete advances the
    * generation too (tombstone at `upto = g-1` ≡ "everything prior"),
    * so its healing appends carry their own stamp and a crashed delete
    * is detectable like any other mutation.
    */
  def remove(view: Tombstones.View, ids: DataFrame,
             q: GraphQuantizer, k: Int, metric: String): Unit = {
    val g = Tombstones.nextGen(view.spark, view.base)
    writeMarker(view.spark, view.base, "delete", g)
    view.appendUpto(ids, g - 1)
    publish(view, q, k, metric, g, landed = Some(false))
  }

  /** Finish (or resume) the in-flight mutation — every step below is a
    * no-op when its effect already landed, so this is safe to call any
    * number of times, from the verb itself or from crash recovery.
    */
  def complete(view: Tombstones.View,
               q: GraphQuantizer, k: Int, metric: String): Unit =
    inflight(view.spark, view.base).foreach(m =>
      publish(view, q, k, metric, m.gen, landed = None))

  /** Resume an orphaned mutation if one is in flight (verb entry /
    * load-time recovery). Assumes the lease is held.
    */
  def recoverIfInflight(view: Tombstones.View,
                        q: GraphQuantizer, k: Int, metric: String): Unit =
    complete(view, q, k, metric)

  /** Publish mutation `g`. `landed` says whether a data batch was
    * written at `g`: Some(true) right after [[ingest]]'s own write,
    * Some(false) for a delete, None when resuming a marker — then the
    * batch read below doubles as the "did it land" probe, and the
    * `_ids` and edge appends each probe for gen-`g` rows first (each is
    * one atomic job, so any row means all rows).
    */
  private def publish(view: Tombstones.View, q: GraphQuantizer, k: Int, metric: String,
                      g: Long, landed: Option[Boolean]): Unit = {
    val spark = view.spark
    val p = view.base
    // the gen-g batch's (id, cluster) rows: its ids and touched
    // clusters for every step below; None above the probe cap
    val batch: Option[Array[(Long, Int)]] =
      if (landed.contains(false)) Some(Array.empty)
      else {
        val dataG = view.read("data").where(col("gen") === g)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val rows = Tombstones.collectAtMost(
              dataG.select(col("id"), col("cluster").cast("int")), ProbeIsinMax)
            .map(_.map(r => (r.getLong(0), r.getInt(1))))
          if (rows.forall(_.nonEmpty))
            settle(view, dataG, rows, k, metric, g, resumed = landed.isEmpty)
          rows
        } finally dataG.unpersist()
      }
    // (e) + (f) routing heals, scoped to this batch: its victims (the
    // sidecar rows at upto = g-1) and the clusters it landed in. Both
    // are derivable from the live view alone, so a resumed marker
    // needs nothing from the lost batch context
    val touched = batch.map(_.map(_._2).distinct)
    val entriesHit = entriesAffected(view, g, view.rawUpto(g - 1), touched)
    if (healsEnabled(spark)) {
      if (entriesHit) refreshEntries(view, q, g)
      relinkStarved(view, k, metric, g)
    }
    // (g) live-entry manifest: the serve-time route auto-switch reads
    // it, so an artifact that grows past the threshold under inserts
    // flips the switch without a re-save. The count moves only when an
    // entry died or the heal re-seeded one — exactly when entriesHit
    // holds.
    if (entriesHit) writeEntryCount(view)
    clearMarker(spark, p)
    if (Tombstones.maybeCompact(view, compactTables, physicalRows(spark, p)))
      // the fold changes no live row: with the heals on, the scoped heal
      // above already re-seeded every cluster this batch could empty, so
      // only the heal-less arm re-seeds here (as the fold always did)
      afterCompact(view, q, g, reseed = !healsEnabled(spark))
  }

  /** Steps (a)-(d) for a landed gen-`g` batch (`dataG`, its (id,
    * cluster) rows in `batch` when under the probe cap).
    */
  private def settle(view: Tombstones.View, dataG: DataFrame,
                     batch: Option[Array[(Long, Int)]], k: Int, metric: String,
                     g: Long, resumed: Boolean): Unit = {
    val spark = view.spark
    val p = view.base
    val ids = batch.map(_.map(_._1))
    val batchIds = dataG.select(col("id"))
    // (a) probe sidecar — before any probe could consult it
    if (!(resumed && nonEmpty(view.read("_ids").where(col("gen") === g))))
      ids match {
        case Some(a) => appendIds(spark, p, a, g)
        case None    => appendIds(spark, p, batchIds, g)
      }
    // (b) serving edges for the batch
    if (!(resumed && nonEmpty(view.read("serve/edges").where(col("gen") === g))))
      appendServeEdges(view, dataG, k, metric, g, batch)
    // (c) supersede the standing rows of the batch's ids — the PUBLISH
    // step: until here both generations served (duplicate, never
    // lost); from here exactly the latest serves. Probing gen < g
    // keeps this recomputable and idempotent.
    ids match {
      case Some(a) =>
        val changed = standingIds(view).where(inIds(col("id"), a) && col("gen") < g)
          .select(col("id")).collect().map(_.getLong(0)).distinct
        if (changed.nonEmpty) view.appendUpto(changed, g - 1)
      case None =>
        val changed = standingOverlap(view, batchIds)
          .where(col("gen") < g).select("id").distinct()
        if (nonEmpty(changed)) view.appendUpto(changed, g - 1)
    }
    // (d) growth-policy manifest
    val (n, asOf) = readRowCount(spark, p)
    if (asOf < g)
      writeRowCount(spark, p, n + ids.map(_.length.toLong).getOrElse(dataG.count()), g)
  }

  /** Whether mutation `g` can have left a cluster with live rows but no
    * live entry: a victim was a live entry before the batch's
    * tombstones, or the batch landed in a cluster with no live entry.
    * Every earlier verb kept that invariant, so no other cluster can
    * need the heal. One pruned collect of the entries touching the
    * victims or the touched clusters; true (heal everything, as before)
    * when the fold or a set is over its cap.
    */
  private def entriesAffected(view: Tombstones.View, g: Long,
                              victims: Option[Array[Long]],
                              touched: Option[Array[Int]]): Boolean =
    (view.inline, view.inlineBefore(g - 1), victims, touched) match {
      case (Some(now), Some(before), Some(v), Some(t))
          if v.length <= RelinkIsinMax && t.length <= RelinkIsinMax =>
        (v.nonEmpty || t.nonEmpty) && {
          val cluster = col("cluster").cast("int")
          val hit = Seq(
            if (v.nonEmpty) Some(inIds(col("id"), v)) else None,
            if (t.nonEmpty) Some(cluster.isin(t.map(Int.box): _*)) else None).flatten
            .reduce(_ || _)
          val rows = view.read("serve/entries").where(hit)
            .select(col("id"), cluster, col("gen")).collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          def alive(m: Map[Long, Long], id: Long, gen: Long) = m.get(id).forall(gen > _)
          val vs = v.toSet
          val covered = rows.collect { case (id, c, gen) if alive(now, id, gen) => c }.toSet
          rows.exists { case (id, _, gen) => vs(id) && alive(before, id, gen) } ||
            t.exists(c => !covered(c))
        }
      case _ => true
    }

  /** Rewrite the `_entrycount` manifest from the live entries. */
  private def writeEntryCount(view: Tombstones.View): Unit =
    GraphAnn.writeEntryCount(view.spark, s"${view.base}/serve",
      view.filterGen(view.read("serve/entries"), "id", "gen").count())

  /** Post-compaction fixups: the fold just changed the physical row set
    * (refresh the growth-policy manifest from the narrow sidecar) and
    * may have dropped dead medoid entries (`reseed`: re-seed their
    * clusters so the routing invariant — every cluster with live rows
    * has a live entry — holds without waiting for the next mutation).
    */
  def afterCompact(view: Tombstones.View, q: GraphQuantizer, g: Long,
                   reseed: Boolean = true): Unit = {
    writeRowCount(view.spark, view.base, standingIds(view).count(), g)
    if (reseed && refreshEntries(view, q, g)) writeEntryCount(view)
  }

  // ---------------------------------------------------------------- edges

  /** [[appendServeEdges]] outside a verb (its own view). */
  private[graft] def appendServeEdges(spark: SparkSession, p: String, dataG: DataFrame,
                                      k: Int, metric: String, g: Long): Unit =
    appendServeEdges(view(spark, p), dataG, k, metric, g, None)

  /** Build and append the serving edges for the gen-`g` data slice —
    * exactly the edges [[Knn.appendGraphEdges]] would have produced for
    * the batch BEFORE it joined the layout: candidates are the touched
    * clusters' LIVE standing rows at gen < `g`, minus the batch ids'
    * own superseded rows (the tombstone may not have landed yet — the
    * exclusion makes it unconditional), plus the batch itself; edges
    * symmetrize with destination vectors attached and append at gen
    * `g`. `batch`: the slice's (id, cluster) rows when the caller
    * already holds them.
    */
  private def appendServeEdges(view: Tombstones.View, dataG: DataFrame,
                               k: Int, metric: String, g: Long,
                               batch: Option[Array[(Long, Int)]]): Unit = {
    // quantizer-AGNOSTIC: both sides read the `cluster` the data layout
    // PERSISTS (written by the frozen quantizer at their own ingest) —
    // re-deriving it here would need the quantizer and compute the
    // identical value
    val rows = dataG.select(col("id"), col("vectors"),
      col("cluster").cast("int").as("cluster"))
    val touched = batch.map(_.map(_._2).distinct.toSeq).getOrElse(
      dataG.select(col("cluster").cast("int")).distinct().collect().map(_.getInt(0)).toSeq)
    val standing0 = view.filterGen(
      view.read("data").where(col("cluster").isin(touched: _*)).where(col("gen") < g),
      "id", "gen")
    val standing = (batch match {
      case Some(b) => standing0.where(!inIds(col("id"), b.map(_._1)))
      case None    => standing0.join(rows.select(col("id")), Seq("id"), "left_anti")
    }).select(col("id"), col("vectors"), col("cluster").cast("int").as("cluster"))
    val cand = standing.unionByName(rows)
    val edges = Knn.clusteredGraphEdges(
        rows.select(col("id").as("q_id"), col("vectors").as("q_vec"), col("cluster")),
        cand.select(col("id"), col("vectors").as("n_vec"), col("cluster")),
        k, metric)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val directed = edges.select(col("q_id").as("src_id"), col("n_id").as("dst_id"))
      val sym = directed.unionByName(
        directed.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
        .distinct()
      sym.join(cand.select(col("id").as("dst_id"), col("vectors").as("dst_vec")), "dst_id")
        .select(col("src_id"), col("dst_id"), col("dst_vec"), lit(g).as("gen"))
        .write.mode("append")
        .option("parquet.block.size", EdgeBlockBytes.toString)
        .parquet(edgesPath(view.base))
    } finally edges.unpersist()
  }

  // ---------------------------------------------------------------- heals

  /** Entry-point heal: every cluster with live data rows must have a
    * live medoid entry, or the beam walk starves (an upserted/deleted
    * id that WAS an entry takes its cluster's routing with it — the
    * attrition that would otherwise leave searchBeam returning zero
    * rows on a non-empty index). Recomputes the medoid (nearest live
    * row to the centroid, ties to lowest id) for exactly the clusters
    * missing one and appends it at gen `g`. Clusters with no live rows
    * stay entry-less (nothing to route to); the check itself is
    * K-bounded plus one partition-pruned scan of the affected clusters.
    * True iff it appended an entry.
    */
  def refreshEntries(view: Tombstones.View, q: GraphQuantizer, g: Long): Boolean = {
    val spark = view.spark
    val p = view.base
    val liveEntries = view.filterGen(view.read("serve/entries"), "id", "gen")
    // clusters that HAVE a live entry, as a frame — never a driver
    // collect of the full cluster set (K-proportional at routed K)
    val haveDf = liveEntries.select(col("cluster").cast("int").as("cluster")).distinct()
    // clusters missing an entry, with their centroid vector attached —
    // the quantizer's cluster table is a tiny literal (flat) or the
    // fine TABLE (routed); Spark broadcasts whichever side fits
    val missingCv = q.clusterTable(spark).join(haveDf, Seq("cluster"), "left_anti")
    // partition-prune the data scan to the missing clusters when their
    // count is probe-small (heals are batch-bounded in practice: the
    // missing set is the clusters THIS batch's tombstones emptied); a
    // pathological set degrades to the unpruned join instead of a
    // K-proportional driver list
    val missingSmall = missingCv.select(col("cluster"))
      .limit(RelinkIsinMax + 1).collect().map(_.getInt(0))
    if (missingSmall.isEmpty) return false
    val live0 = view.filterGen(view.read("data"), "id", "gen")
    val live =
      if (missingSmall.length <= RelinkIsinMax)
        live0.where(col("cluster").isin(missingSmall.map(Int.box): _*))
      else live0
    val medoids = live.select(col("cluster").cast("int").as("cluster"),
        col("id"), col("vectors"))
      .join(missingCv, Seq("cluster"))
      .withColumn("d2", vecL2Sq(col("vectors"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster").orderBy(col("d2"), col("id"))))
      .where(col("rn") === 1)
      .select(col("cluster"), col("id"), col("vectors").as("vec"), lit(g).as("gen"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val appended = nonEmpty(medoids)
      if (appended) {
        // route upkeep: the re-seeded entry joins the route table at
        // append (assigned against the FROZEN route centroids, like data
        // rows against the frozen coarse quantizer) — without this, one
        // heal appends a route-less row and a routed walk would never
        // start from the healed entry
        medoids.withColumn("route_cell",
            nearestCentroid(col("vec"), IvfIndex.readCentroids(spark, s"$p/serve/route")))
          .write.mode("append").parquet(entriesPath(p))
      }
      appended
    } finally medoids.unpersist()
  }

  /** Cap on ids pulled to the driver for an edge-table probe: victims
    * are batch-sized and affected nodes are their neighbors, so typical
    * mutations stay far below it; a pathological batch degrades to the
    * distributed (semi-join, unpruned) path instead of failing.
    */
  private val RelinkIsinMax = 4096

  private def inIds(c: org.apache.spark.sql.Column, ids: Array[Long]) =
    c.isin(ids.map(Long.box): _*)

  /** Re-link heal: a standing node whose edges died with this batch's
    * victims (the superseded/deleted ids — exactly the sidecar rows at
    * `upto = g-1`) can end up with a starved live out-degree; HNSW's
    * remove+reinsert suffers the same attrition. For every LIVE node
    * that pointed at a victim and now holds fewer than k/2 live
    * out-edges, recompute its top-k against its own cluster's live rows
    * and append the missing edges (both directions, gen `g`).
    *
    * O(batch), not O(edges): the serving layout is SYMMETRIZED (both
    * directions of every pair are written together and die together
    * under the either-endpoint tombstone rule), so "nodes that pointed
    * at a victim" ≡ "out-neighbors of the victims" — which an
    * `src_id IN (victims)` predicate finds with parquet row-group
    * pruning on the src-sorted edge files. The victims come from the
    * view's fold, and the affected and starved sets from two pruned
    * collects with no exchange ([[starvedOnDriver]]); an oversized
    * batch or sidecar degrades to semi-joins. The candidate scan is
    * partition-pruned to the starved nodes' clusters.
    */
  def relinkStarved(view: Tombstones.View, k: Int, metric: String, g: Long): Unit = {
    if (!view.present) return
    val floor = math.max(1, k / 2)
    starvedOnDriver(view, floor, g) match {
      case Some((starved, liveEdges)) =>
        if (starved.nonEmpty) {
          import view.spark.implicits._
          relink(view, Right(starved), liveEdges.toSeq.toDF("src_id", "dst_id"), k, metric, g)
        }
      case None =>
        // victims = THIS batch's tombstone appends, probed on the RAW
        // sidecar rows (upto_gen = g-1), not the max-folded tombs() view
        val victims = Tombstones.rawUpto(view.spark, view.base, g - 1)
        val edgesPhys = view.read("serve/edges")
        val affected = edgesPhys
          .join(victims.withColumnRenamed("id", "src_id"), Seq("src_id"), "leftsemi")
          .select(col("dst_id").as("id")).distinct()
        val affectedLive = view.filterGen(
          standingIds(view).join(affected, Seq("id"), "leftsemi"), "id", "gen")
          .select("id").distinct()
        val liveEdges = view.filterEdgesGen(
            edgesPhys.join(affectedLive.withColumnRenamed("id", "src_id"),
              Seq("src_id"), "leftsemi"),
            "src_id", "dst_id", "gen")
          .select(col("src_id"), col("dst_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val deg = liveEdges.groupBy("src_id").agg(count(lit(1)).as("deg"))
          val starved = affectedLive
            .join(deg.withColumnRenamed("src_id", "id"), Seq("id"), "left_outer")
            .where(coalesce(col("deg"), lit(0L)) < floor)
            .select("id")
          relink(view, Left(starved), liveEdges, k, metric, g)
        } finally liveEdges.unpersist()
    }
  }

  /** The starved set on the driver, from the view's fold: the victims'
    * out-neighbors (collect 1: an `src_id IN (victims)` edge probe),
    * then those neighbors' out-edges plus their standing (id, gen) rows
    * (collect 2: one union of two IN-pruned scans). A node is live iff
    * a standing row outlives its tombstone; its degree is its MULTISET
    * count of live out-edges (both endpoints outlive the edge's
    * generation). Returns the starved ids with their live out-edges,
    * or None when the fold or a set is over its cap.
    */
  private def starvedOnDriver(view: Tombstones.View, floor: Int,
                              g: Long): Option[(Array[Long], Array[(Long, Long)])] =
    for {
      m <- view.inline
      victims <- view.rawUpto(g - 1) if victims.length <= RelinkIsinMax
      edgesPhys = view.read("serve/edges")
      affected = (if (victims.isEmpty) Array.empty[Long]
        else edgesPhys.where(inIds(col("src_id"), victims)).select(col("dst_id"))
          .collect().map(_.getLong(0)).distinct)
      if affected.length <= RelinkIsinMax
    } yield
      if (affected.isEmpty) (Array.empty[Long], Array.empty[(Long, Long)])
      else {
        val rows = edgesPhys.where(inIds(col("src_id"), affected))
          .select(col("src_id"), col("dst_id"), col("gen"))
          .unionByName(standingIds(view).where(inIds(col("id"), affected))
            .select(col("id").as("src_id"), lit(null).cast("long").as("dst_id"), col("gen")))
          .collect()
        def alive(id: Long, gen: Long) = m.get(id).forall(gen > _)
        val liveNodes = rows.collect {
          case r if r.isNullAt(1) && alive(r.getLong(0), r.getLong(2)) => r.getLong(0)
        }.toSet
        val liveEdges = rows.collect {
          case r if !r.isNullAt(1) && alive(r.getLong(0), r.getLong(2))
              && alive(r.getLong(1), r.getLong(2)) => (r.getLong(0), r.getLong(1))
        }
        val deg = liveEdges.groupBy(_._1).map { case (id, es) => id -> es.length }
        val starved = affected.filter(id => liveNodes(id) && deg.getOrElse(id, 0) < floor)
        val starvedSet = starved.toSet
        (starved, liveEdges.filter(e => starvedSet(e._1)))
      }

  /** Recompute the starved nodes' top-k against their clusters' live
    * rows and append the edges they do not already hold live (both
    * directions, gen `g`). `starved`: driver ids, or a frame of ids.
    */
  private def relink(view: Tombstones.View, starved: Either[DataFrame, Array[Long]],
                     liveEdges: DataFrame, k: Int, metric: String, g: Long): Unit = {
    val live = view.filterGen(view.read("data"), "id", "gen")
    val starvedRows = (starved match {
      case Right(ids) => live.where(inIds(col("id"), ids))
      case Left(df)   => live.join(df, Seq("id"), "leftsemi")
    }).select(col("id"), col("vectors"), col("cluster").cast("int").as("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val clusters = starvedRows.select("cluster").distinct()
        .collect().map(_.getInt(0)).toSeq
      if (clusters.isEmpty) return
      // quantizer-agnostic: both sides carry the PERSISTED cluster of
      // the frozen quantizer (flat or routed) — no re-assignment
      val cand = live.where(col("cluster").isin(clusters: _*))
        .select(col("id"), col("vectors"), col("cluster").cast("int").as("cluster"))
      val fresh = Knn.clusteredGraphEdges(
          starvedRows.select(col("id").as("q_id"), col("vectors").as("q_vec"),
            col("cluster")),
          cand.select(col("id"), col("vectors").as("n_vec"), col("cluster")),
          k, metric)
        .select(col("q_id").as("src_id"), col("n_id").as("dst_id"))
        .join(liveEdges, Seq("src_id", "dst_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        if (!nonEmpty(fresh)) return
        val sym = fresh.unionByName(
          fresh.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
          .distinct()
        sym.join(live.select(col("id").as("dst_id"), col("vectors").as("dst_vec")),
            "dst_id")
          .select(col("src_id"), col("dst_id"), col("dst_vec"), lit(g).as("gen"))
          .write.mode("append")
          .option("parquet.block.size", EdgeBlockBytes.toString)
          .parquet(edgesPath(view.base))
      } finally fresh.unpersist()
    } finally starvedRows.unpersist()
  }
}
