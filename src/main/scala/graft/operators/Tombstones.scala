package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Delete lifecycle for the persisted artifacts (reference:
  * faiss_index.rs:131 remove_vectors, vector_database.rs:32-38): every
  * written-once layout gets a DELETE twin to go with its append twin,
  * without rebuilding the artifact.
  *
  *  - A deletion appends the ids to a `_tombstones/` parquet sidecar
  *    INSIDE the artifact dir. The underscore prefix makes it invisible
  *    to plain `spark.read.parquet(artifact)` (Spark's hidden-path
  *    filter) and ties its lifetime to the artifact version: a corpus
  *    rewrite GCs artifact + tombstones together ([[Artifacts]]).
  *  - Readers apply the sidecar as an anti-join AT READ TIME
  *    ([[filter]]) — when no deletion ever happened the plan is
  *    UNCHANGED (a driver-side fs metadata probe, no join node), so
  *    hash gates and plan guards on the no-delete path are unaffected.
  *  - [[compact]] folds the tombstones into the data files (rewrite
  *    minus deleted ids, crash-safe deterministic-sibling swap — the
  *    [[Retrieval.compactPostings]] discipline) and clears the sidecar,
  *    so post-compaction plans carry no anti-join at all.
  *
  * Every sidecar row is `(id LONG, upto_gen LONG)` regardless of the
  * artifact's own id column name: `upto_gen` is the highest generation
  * the row kills. [[appendUpto]] writes the mutation's bound; a plain
  * [[append]] (the non-generational layouts: IVF, PQ, LSH, dedup
  * signatures) writes Long.MaxValue, kill every generation. Every
  * reader goes through ONE fixed read schema ([[sidecar]]), so no
  * sidecar read pays a schema-inference job; filters name the artifact
  * column explicitly (a graph artifact filters BOTH endpoint columns).
  *
  * A mutation verb reads the sidecar ONCE under its lease: a [[View]]
  * collects the raw rows, folds them on the driver and keeps the fold
  * current across the verb's own appends, so every filter inside the
  * verb is a literal map lookup instead of a per-action sidecar join.
  */
object Tombstones {

  private val subdir = "_tombstones"

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff the artifact has live tombstones — one driver-side
    * metadata probe.
    */
  def present(spark: SparkSession, base: String): Boolean =
    fsOf(spark, base).exists(new Path(s"$base/$subdir"))

  /** The one schema of every sidecar file, as [[appendUpto]] writes it. */
  private val sidecarSchema = StructType(Seq(
    StructField("id", LongType), StructField("upto_gen", LongType)))

  /** The raw sidecar rows as (id, upto). */
  private def sidecar(spark: SparkSession, base: String): DataFrame =
    spark.read.schema(sidecarSchema).parquet(s"$base/$subdir")
      .select(col("id"), col("upto_gen").as("upto"))

  /** Tombstone ids as a 1-column (`id` LONG) frame. */
  def ids(spark: SparkSession, base: String): DataFrame =
    sidecar(spark, base).select(col("id"))

  /** Append deletions: `idsDf`'s FIRST column (cast long) are the ids to
    * tombstone. Idempotent at read time (the anti-join dedups); appends
    * under the artifact's own directory so the ids version with it.
    * The rows carry `upto_gen = Long.MaxValue`: kill every generation.
    */
  def append(spark: SparkSession, base: String, idsDf: DataFrame): Unit =
    appendUpto(spark, base, idsDf, Long.MaxValue)

  /** Generation-SCOPED tombstone: kills only the rows of each id whose
    * `gen` stamp is <= `uptoGen`; rows appended later (a higher
    * generation) survive the read filter. This is what makes the
    * in-place upsert verb append-only — tombstone the standing rows at
    * upto = g-1, append the replacement batch at gen = g — and lets a
    * deleted id be REUSED without a compact (delete at upto = current
    * generation, re-insert at a later one).
    */
  def appendUpto(spark: SparkSession, base: String, idsDf: DataFrame, uptoGen: Long): Unit =
    idsDf.select(col(idsDf.columns.head).cast("long").as("id"),
        lit(uptoGen).as("upto_gen"))
      .write.mode("append").parquet(s"$base/$subdir")

  /** The sidecar folded to (id, upto): the highest generation each dead
    * id's tombstones cover (multiple tombstones for one id compose as
    * their max — a row dies if ANY tombstone covers its generation).
    */
  def tombs(spark: SparkSession, base: String): DataFrame =
    sidecar(spark, base).groupBy("id").agg(max("upto").as("upto"))

  /** The DISTINCT ids whose RAW sidecar rows carry exactly
    * `upto_gen = upto` — one mutation batch's own tombstone appends.
    * Deliberately NOT the max-folded [[tombs]] view: an id a LATER batch
    * tombstoned again folds past this batch's stamp, which would hide
    * it from callers probing for a specific batch (the re-link heal's
    * victim set).
    */
  def rawUpto(spark: SparkSession, base: String, upto: Long): DataFrame =
    sidecar(spark, base).where(col("upto") === upto).select(col("id")).distinct()

  /** The sidecar's PUBLISHED view, folded to (id, upto): the raw rows
    * are gated by the publish rule — effective iff already published
    * (upto < publishedGen) — BEFORE the per-id max fold. Gating AFTER
    * the fold is wrong: an id with an older published tombstone (upto =
    * u₀, effective) plus a newer UNPUBLISHED one (upto = g−1 ≥
    * publishedGen, a second mutation of the same doc in flight) folds to
    * g−1, the gate drops the whole fold, and the published tombstone's
    * effect is lost — a concurrent reader mid-mutation would see the
    * previously-superseded rows resurrect (duplicate doclen rows,
    * corrupted N/avgdl/df).
    */
  def tombsPublished(spark: SparkSession, base: String, publishedGen: Long): DataFrame =
    sidecar(spark, base)
      .where(col("upto") < publishedGen)
      .groupBy("id").agg(max("upto").as("upto"))

  /** [[filterGen]] restricted to PUBLISHED tombstones: a tombstone row
    * takes effect only once the artifact's published generation has
    * moved past it (`upto < publishedGen`). This is the read half of the
    * text index's atomic publish: a mutation appends data at gen g and
    * its tombstone at upto = g-1 while `publishedGen = g-1`, and BOTH
    * stay invisible (rows gated by gen <= publishedGen, the tombstone by
    * upto < publishedGen) until ONE rename bumps `_pubgen` to g — so a
    * reader at any kill point sees exactly the pre-batch or the
    * post-batch index, never a mixed or duplicated state. The publish
    * gate applies to the RAW sidecar rows ([[tombsPublished]]) so an
    * in-flight second mutation of an id can never mask its standing
    * published tombstone.
    */
  def filterGenPublished(df: DataFrame, base: String, idCol: String, genCol: String,
                         publishedGen: Long): DataFrame =
    if (!present(df.sparkSession, base)) df
    else {
      val t = tombsPublished(df.sparkSession, base, publishedGen)
        .select(col("id").as("_tomb_id"), col("upto").as("_tomb_upto"))
      df.join(broadcast(t), df(idCol) === col("_tomb_id"), "left_outer")
        .where(col("_tomb_upto").isNull || df(genCol) > col("_tomb_upto"))
        .drop("_tomb_id", "_tomb_upto")
    }

  /** Default cap on the raw sidecar rows a driver-side fold collects
    * ([[inlineTombs]], [[View]]); above it the broadcast-join filters
    * stay (the ~20% growth policy bounds the sidecar, so the join path
    * remains the at-scale story and its measured envelope).
    */
  val InlineCap = 4096

  /** Up to `n` rows of `df` in ONE job. A `limit(n).collect()` over a
    * multi-file scan runs Spark's incremental take — one job per
    * scale-up round while the first partitions come back short, which a
    * sparse result always does; a per-partition take finishes in one
    * pass. Local relations (driver literals) collect with no job.
    */
  private[graft] def takeRows(df: DataFrame, n: Int): Array[Row] =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df.limit(n).collect()
    else df.rdd.mapPartitions(_.take(n)).collect().take(n)

  /** All rows of `df` when it has at most `n`, else None — one job. */
  private[graft] def collectAtMost(df: DataFrame, n: Int): Option[Array[Row]] = {
    val got = takeRows(df, n + 1)
    if (got.length > n) None else Some(got)
  }

  /** The raw sidecar rows as (id, upto) pairs, unfolded — None when
    * there are more than `cap`. One job.
    */
  private def rawRows(spark: SparkSession, base: String, cap: Int): Option[Array[(Long, Long)]] =
    collectAtMost(sidecar(spark, base), cap).map(_.map(r => r.getLong(0) -> r.getLong(1)))

  /** Raw (id, upto) rows folded to the highest upto per id — [[tombs]]
    * on the driver.
    */
  private def fold(rows: Iterable[(Long, Long)]): Map[Long, Long] = {
    val m = scala.collection.mutable.HashMap.empty[Long, Long]
    rows.foreach { case (id, u) => if (m.get(id).forall(_ < u)) m(id) = u }
    m.toMap
  }

  /** Construction-time LITERAL snapshot of the folded sidecar, for
    * serve frames that are REBUILT per call (the facade's per-search
    * serving frames): when the sidecar is bounded (≤ `cap` raw rows),
    * the per-ACTION sidecar scan + fold + broadcast build that the join
    * filters pay on every action of a driver-driven walk (hops + 1
    * driving collects plus the final cut each re-ran them) collapses
    * into ONE collect here — the raw rows, folded on the driver, so no
    * shuffle either — and the keep rule becomes a pure codegen
    * map-literal lookup. Returns Some(map) to splice, None when the
    * sidecar exceeds `cap` — callers then keep the broadcast-join
    * filters. Snapshot semantics match the join filters' for per-call
    * frames: both read the sidecar inside the serving call; they differ
    * only under a concurrent mutation mid-call, a regime the
    * single-writer lease already scopes to transient-but-safe reads.
    */
  def inlineTombs(spark: SparkSession, base: String, cap: Int = InlineCap): Option[Map[Long, Long]] =
    if (!present(spark, base)) Some(Map.empty)
    else rawRows(spark, base, cap).map(r => fold(r))

  /** [[filterGen]]'s keep rule over an [[inlineTombs]] snapshot — a
    * literal map lookup instead of the sidecar join; an empty map is
    * the no-tombstone case and leaves the plan UNCHANGED (the hash
    * gates and plan guards on the no-delete path see the same plan).
    */
  def filterGenInline(df: DataFrame, idCol: String, genCol: String,
                      m: Map[Long, Long]): DataFrame =
    if (m.isEmpty) df
    else {
      val u = element_at(typedLit(m), col(idCol).cast("long"))
      df.where(u.isNull || col(genCol) > u)
    }

  /** Edge-table variant of [[filterGenInline]] ([[filterEdgesGen]]'s
    * keep rule: an edge dies when EITHER endpoint's tombstone covers
    * the edge's generation).
    */
  def filterEdgesGenInline(df: DataFrame, aCol: String, bCol: String, genCol: String,
                           m: Map[Long, Long]): DataFrame =
    if (m.isEmpty) df
    else {
      val ua = element_at(typedLit(m), col(aCol).cast("long"))
      val ub = element_at(typedLit(m), col(bCol).cast("long"))
      df.where((ua.isNull || col(genCol) > ua) && (ub.isNull || col(genCol) > ub))
    }

  /** Read a generation-stamped table. Every writer of one (the build
    * at generation 0, each mutation at its own, the fold's restamp to
    * 0) writes the same columns with `gen` in them, so one file's
    * schema is the table's.
    */
  def readWithGen(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Generation-aware read filter: a row survives unless a tombstone
    * for its id covers its generation (`gen <= upto`). Strict
    * generalization of [[filter]] — a sidecar of plain rows (upto =
    * MaxValue) reproduces the anti-join exactly. No-op plan when the
    * artifact has no live tombstones. The sidecar is policy-bounded
    * (~20% of the primary table), so it broadcasts.
    */
  def filterGen(df: DataFrame, base: String, idCol: String, genCol: String): DataFrame =
    if (!present(df.sparkSession, base)) df
    else {
      val t = tombs(df.sparkSession, base)
        .select(col("id").as("_tomb_id"), col("upto").as("_tomb_upto"))
      df.join(broadcast(t), df(idCol) === col("_tomb_id"), "left_outer")
        .where(col("_tomb_upto").isNull || df(genCol) > col("_tomb_upto"))
        .drop("_tomb_id", "_tomb_upto")
    }

  /** Edge-table variant of [[filterGen]]: an edge dies if EITHER
    * endpoint has a tombstone covering the EDGE's generation — an edge
    * written at generation g referenced the endpoint rows live at g, so
    * a later tombstone (upto >= g) invalidates it, while an edge
    * appended after the tombstone (gen > upto) references the
    * endpoint's replacement rows and survives.
    */
  def filterEdgesGen(df: DataFrame, base: String, aCol: String, bCol: String,
                     genCol: String): DataFrame =
    if (!present(df.sparkSession, base)) df
    else {
      val t = tombs(df.sparkSession, base)
      val ta = t.select(col("id").as("_ta_id"), col("upto").as("_ta_upto"))
      val tb = t.select(col("id").as("_tb_id"), col("upto").as("_tb_upto"))
      df.join(broadcast(ta), df(aCol) === col("_ta_id"), "left_outer")
        .join(broadcast(tb), df(bCol) === col("_tb_id"), "left_outer")
        .where((col("_ta_upto").isNull || df(genCol) > col("_ta_upto"))
            && (col("_tb_upto").isNull || df(genCol) > col("_tb_upto")))
        .drop("_ta_id", "_ta_upto", "_tb_id", "_tb_upto")
    }

  private def genPath(base: String) = new Path(s"$base/_gen")
  private def genTmpPath(base: String) = new Path(s"$base/_gen_tmp")

  /** The artifact's mutation-generation counter (`_gen` file at the
    * artifact root, beside `_tombstone_policy`): 0 for an artifact no
    * stamped mutation ever touched. Read/advanced only under the
    * single-writer lease, so plain text is race-free.
    *
    * Crash recovery: [[nextGen]] advances write-temp-then-rename, so the
    * only reachable partial state is "`_gen` deleted, `_gen_tmp`
    * complete" — adopted here by finishing the rename. An EXISTING but
    * unparsable `_gen` is unreachable by this protocol (the pre-rename
    * temp write completed before the old file was touched), so it means
    * external interference — fail with the repair instructions instead
    * of silently restarting the counter at 0, which would let old
    * high-`upto` tombstones swallow every future mutation.
    */
  def currentGen(spark: SparkSession, base: String): Long = {
    val fs = fsOf(spark, base)
    val p = genPath(base)
    val tmp = genTmpPath(base)
    if (!fs.exists(p) && fs.exists(tmp))
      require(fs.rename(tmp, p), s"_gen recovery rename failed for $base")
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      try raw.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"unreadable generation counter $p (content: '${raw.take(40)}') — the " +
            "write-temp-then-rename protocol cannot produce this, so the file was " +
            "externally modified; repair: write max(gen) over the artifact's data " +
            "files (SELECT max(gen) FROM parquet(`data`)) into _gen, or save() a " +
            "fresh copy of the index")
      }
    }
  }

  /** Advance and persist the generation counter — one call per mutating
    * batch, under the lease. Returns the NEW generation (stamp the
    * batch's rows/edges with it; tombstone superseded rows at upto =
    * returned - 1). Atomic against crashes: the new value lands in a
    * temp sibling first, then replaces `_gen` (delete + rename — the
    * gap between them is healed by [[currentGen]]'s temp adoption, and
    * a crash before the delete just re-issues the same generation,
    * which nothing was stamped with).
    */
  def nextGen(spark: SparkSession, base: String): Long = {
    val g = currentGen(spark, base) + 1
    val fs = fsOf(spark, base)
    val tmp = genTmpPath(base)
    val out = fs.create(tmp, true)
    try out.write(g.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(genPath(base))) fs.delete(genPath(base), false)
    require(fs.rename(tmp, genPath(base)), s"_gen advance rename failed for $base")
    g
  }

  /** Drop the counter (a full artifact rewrite — save() — resets the
    * generation history along with the sidecar).
    */
  def clearGen(spark: SparkSession, base: String): Unit = {
    val fs = fsOf(spark, base)
    if (fs.exists(genPath(base))) fs.delete(genPath(base), false)
    if (fs.exists(genTmpPath(base))) fs.delete(genTmpPath(base), false)
  }

  /** DISTINCT dead ids in the sidecar — what the growth policy and the
    * stats `dead_fraction` are really about. Appends are only
    * idempotent at read time, so repeated deletes of the same ids
    * inflate the physical row count: counting raw rows would trigger
    * [[maybeCompact]]'s full rewrite prematurely and overstate (even
    * exceed 1.0) the true dead fraction. One narrow column scan of a
    * sidecar the policy bounds at ~20% of the primary table.
    */
  def rowCount(spark: SparkSession, base: String): Long =
    if (!present(spark, base)) 0L
    else ids(spark, base).distinct().count()

  /** Default growth-policy threshold: auto-compact once the sidecar
    * exceeds 20% of the primary table's physical rows. Why 0.2: until
    * the fold, every read scans dead rows too — at ratio r the scan
    * amplification is 1/(1−r), so 0.2 caps it at 1.25×, and the
    * anti-join ships only the sidecar (broadcast ≤ 0.2·n ids — the
    * ScaleSpec `tombstoned_read` certificate measures that shuffle
    * flat in corpus size). Below 0.2 a compaction (a full rewrite of
    * every table) costs more than the reads it saves; above, the dead
    * fraction starts dominating scan work.
    */
  val defaultAutoCompactRatio = 0.2

  private def policyPath(base: String) = new Path(s"$base/_tombstone_policy")

  /** The artifact's recorded policy threshold — the `_tombstone_policy`
    * file inside the artifact dir (written by the first policy check,
    * versioned and GC'd with the artifact like the sidecar); absent →
    * [[defaultAutoCompactRatio]].
    */
  def policyRatio(spark: SparkSession, base: String): Double = {
    val fs = fsOf(spark, base)
    val p = policyPath(base)
    if (!fs.exists(p)) defaultAutoCompactRatio
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toDouble
      finally in.close()
    }
  }

  /** Record the threshold in the artifact's manifest file (idempotent;
    * the delete verbs call this so the policy an artifact lives under
    * is readable beside its sidecar, not buried in library defaults).
    */
  def recordPolicy(spark: SparkSession, base: String,
                   ratio: Double = defaultAutoCompactRatio): Unit = {
    val fs = fsOf(spark, base)
    val p = policyPath(base)
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(ratio.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The growth policy: between manual `compact` calls the sidecar
    * grows unbounded and every read pays the anti-join — so the delete
    * verbs call this after appending. Folds the sidecar in (the same
    * crash-safe [[compact]]) once its DISTINCT dead ids exceed the
    * recorded threshold × the primary table's physical rows; below it,
    * the append stays the cheap O(batch) operation it should be.
    * Returns true iff it compacted. `primaryRows` is by-name: it costs
    * a footer count and only runs when a sidecar exists.
    */
  def maybeCompact(spark: SparkSession, base: String, tables: Seq[TombTable],
                   primaryRows: => Long): Boolean =
    present(spark, base) && maybeCompact(View(spark, base), tables, primaryRows)

  /** [[maybeCompact]] inside a verb that holds a [[View]]: the distinct
    * dead-id count comes from the view's driver fold.
    */
  def maybeCompact(view: View, tables: Seq[TombTable], primaryRows: => Long): Boolean = {
    if (!view.present) return false
    recordPolicy(view.spark, view.base)
    val ratio = policyRatio(view.spark, view.base)
    if (view.rowCount > ratio * math.max(primaryRows, 1L)) {
      compact(view, tables)
      true
    } else false
  }

  /** Drop the sidecar (after [[compact]] folded it in). The raw-fs
    * delete bypasses Spark's shared file-listing cache, so refresh the
    * path — otherwise a LATER sidecar (new deletes after this compact)
    * can list this one's dead part files and fail mid-scan.
    */
  def clear(spark: SparkSession, base: String): Unit = {
    val fs = fsOf(spark, base)
    val p = new Path(s"$base/$subdir")
    if (fs.exists(p)) fs.delete(p, true)
    spark.catalog.refreshByPath(s"$base/$subdir")
  }

  /** Apply the sidecar at read: anti-join `df.idCol` against the
    * tombstoned ids, or `df` UNCHANGED (no join node) when the artifact
    * has no live tombstones.
    */
  def filter(df: DataFrame, base: String, idCol: String): DataFrame =
    if (!present(df.sparkSession, base)) df
    else {
      val t = ids(df.sparkSession, base)
      df.join(t, df(idCol) === t("id"), "left_anti")
    }

  /** Edge-table variant: a row dies if EITHER endpoint is tombstoned
    * (a deleted vector must vanish both as a query node and as anyone's
    * neighbor).
    */
  def filterEdges(df: DataFrame, base: String, aCol: String, bCol: String): DataFrame =
    if (!present(df.sparkSession, base)) df
    else {
      val t = ids(df.sparkSession, base)
      df.join(t, df(aCol) === t("id"), "left_anti")
        .join(t, df(bCol) === t("id"), "left_anti")
    }

  /** One table of a [[compact]] run: `rel` is the table dir relative to
    * the artifact base ("" when the base IS the table), `filterCols`
    * the columns anti-joined against the sidecar (two for an edge
    * table), `partitionCols`/`sortCols` reproduce the table's layout
    * (partitioned clusters, term-sorted postings).
    */
  final case class TombTable(rel: String, filterCols: Seq[String],
                             partitionCols: Seq[String] = Nil,
                             sortCols: Seq[String] = Nil,
                             genCol: Option[String] = None,
                             blockBytes: Option[Long] = None)

  /** Fold the sidecar into the data: rewrite each table minus the
    * tombstoned rows and clear the sidecar. Swap discipline per table =
    * [[Retrieval.compactPostings]]'s deterministic siblings
    * (`_tomb_new` / `_tomb_old`, `_SUCCESS` as the completeness marker,
    * [[recover]] adopts or restores after a crash). Top-level
    * underscore-prefixed FILES of the old table dir (the Artifacts
    * manifest, the dedup `_built_state` marker) are carried over so the
    * artifact stays committed — and derived-staleness markers keep
    * firing — across the swap. Single-writer, like every compactor.
    */
  def compact(spark: SparkSession, base: String, tables: Seq[TombTable]): Unit =
    if (present(spark, base)) compact(View(spark, base), tables)

  /** [[compact]] inside a verb that holds a [[View]]: the tables read
    * through the view and the keep rule is the view's filter —
    * the driver-fold literal when the sidecar is under the inline cap —
    * so the fold scans each table once with no sidecar join; the view's
    * fold is cleared with the sidecar.
    */
  def compact(view: View, tables: Seq[TombTable]): Unit = {
    if (!view.present) return
    val spark = view.spark
    val base = view.base
    val t = ids(spark, base)
    tables.foreach { spec =>
      val dir = if (spec.rel.isEmpty) base else s"$base/${spec.rel}"
      recover(spark, dir)
      val fs = fsOf(spark, dir)
      val fresh = new Path(s"${dir}_tomb_new")
      val old = new Path(s"${dir}_tomb_old")
      // generation-stamped tables fold with the generation-aware keep
      // rule ([[filterGen]] semantics — the fold must preserve exactly
      // what the read filter serves); plain tables keep the anti-join.
      val kept = spec.genCol match {
        case Some(g) =>
          spec.filterCols.foldLeft(view.read(spec.rel)) { (df, c) =>
            view.filterGen(df, c, g)
          }
            // the fold establishes a new GENERATION-0 BASELINE (exactly
            // like a fresh build, whose files read as gen 0): after it
            // no tombstone exists, and any FUTURE tombstone carries
            // upto ≥ the current generation ≥ every kept stamp — so the
            // restamp is serve-equivalent while collapsing the
            // accumulated per-batch gen slices the readers pay for
            // (TextIndex.stats' postings_slices readout; PersistSpec
            // asserts post-compact slices = 1)
            .withColumn(g, lit(0L))
        case None =>
          spec.filterCols.foldLeft(spark.read.parquet(dir)) { (df, c) =>
            df.join(t, df(c) === t("id"), "left_anti")
          }
      }
      val sorted =
        if (spec.sortCols.nonEmpty)
          kept.repartitionByRange(spec.sortCols.map(col): _*)
            .sortWithinPartitions(spec.sortCols.map(col): _*)
        else kept
      val writer0 = sorted.write.mode("overwrite")
      // reproduce the table's row-group sizing (probe-pruned sidecars
      // and edge files lose their statistics granularity otherwise)
      val writer = spec.blockBytes match {
        case Some(b) => writer0.option("parquet.block.size", b.toString)
        case None    => writer0
      }
      (if (spec.partitionCols.nonEmpty) writer.partitionBy(spec.partitionCols: _*)
       else writer).parquet(fresh.toString)
      // carry the artifact's metadata files across the swap
      fs.listStatus(new Path(dir)).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && n.startsWith("_") && n != "_SUCCESS")
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
            new Path(fresh, n), false, spark.sparkContext.hadoopConfiguration)
      }
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(new Path(dir), old), s"tombstone compaction aside-rename failed for $dir")
      require(fs.rename(fresh, new Path(dir)), s"tombstone compaction swap failed for $dir")
      fs.delete(old, true)
      // the swap happened through raw fs renames — drop the stale
      // listing so the next read of the table sees the fresh copy
      spark.catalog.refreshByPath(dir)
    }
    view.clear()
  }

  /** One mutation verb's snapshot of an artifact, taken once under the
    * single-writer lease and passed explicitly through the verb: while
    * the lease is held nothing but this verb changes the artifact, so
    * everything the verb would otherwise re-read per action is read
    * here once.
    *
    *  - `schemas`: the declared schemas of the layout tables the
    *    caller reads (the GRAPH tables, [[GraphMaintenance]]); [[read]]
    *    reads a table under its schema with no schema-inference job,
    *    and any other table through [[readWithGen]].
    *  - the raw sidecar rows, collected once (≤ [[InlineCap]]) and
    *    folded on the driver: the verb's filters become the
    *    [[filterGenInline]] literals, and the dead-id count and a
    *    batch's own tombstones ([[rawUpto]]) are driver lookups. Over
    *    the cap the fold is None and every answer falls back to today's
    *    sidecar reads and broadcast-join filters. The verb's own
    *    [[appendUpto]] / [[clear]] keep the fold current.
    */
  final class View private (val spark: SparkSession, val base: String,
                            schemas: Map[String, StructType],
                            private var live: Boolean,
                            private var raw: Option[ArrayBuffer[(Long, Long)]],
                            cap: Int) {

    private var folded: Option[Map[Long, Long]] = None

    private def path(rel: String) = if (rel.isEmpty) base else s"$base/$rel"

    /** A table of the artifact, under its declared schema if it has one. */
    def read(rel: String): DataFrame = schemas.get(rel) match {
      case Some(s) => spark.read.schema(s).parquet(path(rel))
      case None    => readWithGen(spark, path(rel))
    }

    /** True iff the artifact has live tombstones. */
    def present: Boolean = live

    /** The folded sidecar (id → highest upto), or None over the cap. */
    def inline: Option[Map[Long, Long]] =
      if (!live) Some(Map.empty)
      else raw.map { r =>
        if (folded.isEmpty) folded = Some(fold(r))
        folded.get
      }

    /** The fold without the rows a given batch appended at `upto` —
      * the sidecar as it stood before that batch's tombstones.
      */
    def inlineBefore(upto: Long): Option[Map[Long, Long]] =
      if (!live) Some(Map.empty) else raw.map(r => fold(r.filter(_._2 != upto)))

    /** [[filterGen]] under the view: the literal fold, else the join. */
    def filterGen(df: DataFrame, idCol: String, genCol: String): DataFrame = inline match {
      case Some(m) => filterGenInline(df, idCol, genCol, m)
      case None    => Tombstones.filterGen(df, base, idCol, genCol)
    }

    /** [[filterEdgesGen]] under the view: the literal fold, else the join. */
    def filterEdgesGen(df: DataFrame, aCol: String, bCol: String, genCol: String): DataFrame =
      inline match {
        case Some(m) => filterEdgesGenInline(df, aCol, bCol, genCol, m)
        case None    => Tombstones.filterEdgesGen(df, base, aCol, bCol, genCol)
      }

    /** DISTINCT dead ids ([[Tombstones.rowCount]]). */
    def rowCount: Long = inline match {
      case Some(m) => m.size.toLong
      case None    => Tombstones.rowCount(spark, base)
    }

    /** The distinct ids of the raw rows at exactly `upto`
      * ([[Tombstones.rawUpto]]); None over the cap.
      */
    def rawUpto(upto: Long): Option[Array[Long]] =
      if (!live) Some(Array.empty)
      else raw.map(_.iterator.collect { case (id, u) if u == upto => id }.toArray.distinct)

    /** Append generation-scoped tombstones for driver-held ids as one
      * sidecar file ([[Tombstones.appendUpto]]) and fold them in.
      */
    def appendUpto(ids: Array[Long], upto: Long): Unit = {
      import spark.implicits._
      Tombstones.appendUpto(spark, base, ids.toSeq.toDF("id").coalesce(1), upto)
      live = true
      folded = None
      raw.foreach(_ ++= ids.iterator.map(_ -> upto))
      if (raw.exists(_.length > cap)) raw = None
    }

    /** [[appendUpto]] for ids in a frame (first column): collected when
      * they fit the cap, else appended as a frame and the fold dropped.
      */
    def appendUpto(idsDf: DataFrame, upto: Long): Unit =
      collectAtMost(idsDf.select(col(idsDf.columns.head).cast("long")), cap) match {
        case Some(rows) => appendUpto(rows.map(_.getLong(0)), upto)
        case None =>
          Tombstones.appendUpto(spark, base, idsDf, upto)
          live = true
          folded = None
          raw = None
      }

    /** Drop the sidecar ([[Tombstones.clear]]) and the fold with it. */
    def clear(): Unit = {
      Tombstones.clear(spark, base)
      live = false
      folded = None
      raw = Some(ArrayBuffer.empty)
    }
  }

  object View {
    /** Open a view of `base` whose tables (relative to `base`) read under
      * `schemas`, with the sidecar rows collected and folded — at most
      * one job.
      */
    def apply(spark: SparkSession, base: String,
              schemas: Map[String, StructType] = Map.empty, cap: Int = InlineCap): View = {
      val live = present(spark, base)
      val raw =
        if (!live) Some(ArrayBuffer.empty[(Long, Long)])
        else rawRows(spark, base, cap).map(r => ArrayBuffer(r.toSeq: _*))
      new View(spark, base, schemas, live, raw, cap)
    }
  }

  /** Recover an interrupted [[compact]] of one table dir — same
    * protocol as [[Retrieval.recoverCompaction]] under the `_tomb_*`
    * names. If compaction evidence exists but NO complete copy is
    * recoverable (target missing, `_tomb_new` incomplete, `_tomb_old`
    * absent — a window the swap protocol makes unreachable, so reaching
    * it means external interference), this RAISES instead of silently
    * sweeping the incomplete copy and leaving no table at all.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val target = new Path(dir)
    val fresh = new Path(s"${dir}_tomb_new")
    val old = new Path(s"${dir}_tomb_old")
    val freshComplete = fs.exists(new Path(fresh, "_SUCCESS"))
    if (!fs.exists(target)) {
      if (freshComplete) require(fs.rename(fresh, target),
        s"tombstone compaction recovery failed adopting $fresh")
      else if (fs.exists(old)) require(fs.rename(old, target),
        s"tombstone compaction recovery failed restoring $old")
      else require(!fs.exists(fresh),
        s"tombstone compaction left no recoverable table for $dir: target missing, " +
          s"$fresh incomplete (no _SUCCESS) and $old absent — refusing to delete " +
          "the only remaining copy; restore the table manually")
    }
    if (fs.exists(fresh)) fs.delete(fresh, true)
    if (fs.exists(old)) fs.delete(old, true)
    spark.catalog.refreshByPath(dir)
  }
}
