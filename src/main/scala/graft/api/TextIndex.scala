package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{GraphMaintenance, Retrieval, Tombstones}

/** Keyword-retrieval facade over the materialized inverted index — the
  * text-side sibling of [[VectorIndex]]. The reference serves vectors
  * only; hybrid keyword+vector ranking is what its users bolt on first
  * (reference: src/router/mod.rs exposes no text route), so this facade
  * completes the pair a deployment actually runs: `TextIndex.search`
  * supplies the BM25 leg that [[graft.operators.Retrieval.rrfFuse]] /
  * `weightedFuse` blend with a [[VectorIndex]] leg.
  *
  * Always PATH-BACKED, like a saved [[VectorIndex]] layout: `build`
  * writes the term-sorted postings + doc-length tables once
  * ([[graft.operators.Retrieval.buildPostings]]), `load` reopens them
  * after a restart, and `append` ingests new documents without
  * re-tokenizing the standing corpus — the scalar_storage.rs
  * indexes-survive-restart contract on the text side. Every search is
  * a term-pruned scan of the artifact (the predicate reaches the
  * parquet footers), never a corpus tokenize.
  */
final class TextIndex private (spark: SparkSession, val path: String) {

  /** (term, doc_id, tf, dl) — term-sorted at build; appends add their
    * own footer-pruned files until compaction. The read is generation-
    * aware ([[graft.operators.Tombstones.filterGen]]): a tombstone
    * kills only the rows of generations it covers, so an [[upsert]]ed
    * document's superseded postings die while its replacement rows (a
    * higher generation) serve — and a plain delete (upto = the current
    * generation) behaves exactly like the old anti-join. No-op plan
    * when nothing was ever deleted.
    */
  def postings: DataFrame = gated(s"$path/postings")

  /** (doc_id, dl) — one row per document, INCLUDING zero-token docs
    * (they carry no postings but must count in N and avgdl); tombstoned
    * and superseded doc rows drop at read (generation-aware, like
    * [[postings]]), so N/avgdl/df all see the post-mutation corpus.
    */
  def docLengths: DataFrame = gated(s"$path/doclen")

  /** The PUBLISHED view of one artifact table — the read half of the
    * atomic-publish protocol ([[TextIndex.publishedGen]]): rows above
    * the published generation are invisible (a mid-ingest batch hasn't
    * published yet), and generation-scoped tombstones take effect only
    * once published (`upto < publishedGen`;
    * [[graft.operators.Tombstones.filterGenPublished]]). A reader at
    * ANY kill point of a crashed ingest therefore sees exactly the
    * pre-batch or the post-batch index — never duplicate doclen rows,
    * orphaned postings, or half-retired ids.
    */
  private def gated(tablePath: String): DataFrame = {
    val pg = TextIndex.publishedGen(spark, path)
    Tombstones.filterGenPublished(
      Tombstones.readWithGen(spark, tablePath).where(col("gen") <= pg),
      path, "doc_id", "gen", pg)
      .drop("gen")
  }

  /** The index's metadata columns (everything riding the doc-length
    * table beside doc_id/dl) — the text-side filter index, inferred
    * from the stored schema so a loaded index knows its own filters.
    */
  def metaColumns: Seq[String] =
    docLengths.columns.toSeq.filterNot(c => c == "doc_id" || c == "dl")

  /** BM25 top-k for one query (a bag of terms) — identical arithmetic
    * to the index-free operator (RetrievalSpec proves ≡).
    */
  def search(terms: Seq[String], k: Int): DataFrame =
    Retrieval.bm25TopKFromIndex(postings, docLengths, terms, k)

  /** Exact phrase search over the positional index (the Lucene
    * PhraseQuery analog): docs where the terms occur consecutively in
    * order, ranked by exact phrase frequency
    * ([[graft.operators.Retrieval.phraseSearchFromIndex]]).
    */
  def searchPhrase(phrase: Seq[String], k: Int): DataFrame =
    Retrieval.phraseSearchFromIndex(postings, phrase, k)

  /** Proximity search, n-clause (the Lucene SpanNearQuery shape): docs
    * where the terms occur in order with each consecutive gap within
    * `window` tokens, ranked by the exact ordered-chain count (the
    * SpanNear/slop knob beside [[searchPhrase]]).
    */
  def searchNear(terms: Seq[String], window: Int, k: Int): DataFrame =
    Retrieval.nearSearchFromIndex(postings, terms, window, k)

  /** Two-term proximity overload. */
  def searchNear(a: String, b: String, window: Int, k: Int): DataFrame =
    Retrieval.nearSearchFromIndex(postings, Seq(a, b), window, k)

  /** Metadata-filtered BM25 — the facade twin of
    * [[VectorIndex.searchFiltered]] (reference: filter_index.rs Equal
    * composed with search): `filter` prunes the doc-side artifact scan
    * (its columns must be among [[metaColumns]], stored at build), the
    * term predicate prunes the postings scan, stats/df recompute over
    * the filtered sub-corpus — provably ≡ an index built on the
    * filtered corpus ([[graft.operators.Retrieval.bm25TopKFromIndexFiltered]]).
    */
  def searchFiltered(terms: Seq[String], k: Int,
                     filter: org.apache.spark.sql.Column): DataFrame =
    Retrieval.bm25TopKFromIndexFiltered(postings, docLengths, filter, terms, k)

  /** Batch BM25: many queries in one plan, terms as (q_id, term) rows;
    * leave-self-out via excludeQueryDoc for doc-as-query evals.
    */
  def searchBatch(queryTerms: DataFrame, k: Int,
                  excludeQueryDoc: Boolean = false): DataFrame =
    Retrieval.bm25TopKBatchFromIndex(postings, docLengths, queryTerms, k,
      excludeQueryDoc = excludeQueryDoc)

  /** Metadata-filtered batch BM25 — [[searchFiltered]] × [[searchBatch]]
    * (the facade twin of `VectorIndex.searchBatchFiltered`): every
    * query answered over only the documents satisfying `filter`, stats
    * and df over the sub-corpus
    * ([[graft.operators.Retrieval.bm25TopKBatchFromIndexFiltered]]).
    */
  def searchBatchFiltered(queryTerms: DataFrame, k: Int,
                          filter: org.apache.spark.sql.Column,
                          excludeQueryDoc: Boolean = false): DataFrame =
    Retrieval.bm25TopKBatchFromIndexFiltered(postings, docLengths, filter,
      queryTerms, k, excludeQueryDoc = excludeQueryDoc)

  /** Ingest new documents: tokenize the batch only and append its
    * postings/doc-length rows ([[graft.operators.Retrieval.appendPostings]]).
    *
    * NEW-docs-only contract, enforced: a doc_id already in the index
    * would silently corrupt the stats (duplicate doclen rows inflate
    * N/avgdl; duplicate (term, doc_id) postings inflate df and split
    * tf), so the batch is anti-checked against the standing doc-length
    * table first — one semi-join probe per append, limit-1 cheap.
    *
    * The check-then-append pair is serialized per index path with a JVM
    * lock (in-process racers queue — delete and compact take the SAME
    * lock, so in-process contention between ANY two maintenance verbs
    * queues instead of one of them failing on the other's lease), and
    * across PROCESSES by the artifact's single-writer lease
    * ([[graft.operators.Artifacts.withLease]]): a second process's
    * append fails loudly naming the holder instead of passing a probe
    * whose answer the concurrent writer is changing.
    */
  def append(docs: DataFrame, idCol: String, textCol: String): TextIndex =
    ingest(docs, idCol, textCol, "append")

  /** In-place document update — the text-side twin of
    * [[VectorIndex.upsertAll]] (reference: VectorDatabase::upsert
    * overwrites the scalar document too, vector_database.rs:24-83 +
    * scalar_storage.rs): re-tokenize ONLY the batch, append its
    * postings/doc-length rows at a fresh generation `g`, then
    * tombstone the standing rows of the batch's ids at `upto = g-1` —
    * one generation-scoped sidecar append that atomically retires the
    * old postings AND the old doclen row together. No rebuild, no
    * "compact before reusing the id" wart: the read filter serves
    * exactly the latest generation of every doc, with BM25 stats (N,
    * avgdl, df) and phrase positions all recomputed from the live
    * view (RetrievalSpec proves update ≡ rebuild on the merged corpus).
    */
  def upsert(docs: DataFrame, idCol: String, textCol: String): TextIndex =
    ingest(docs, idCol, textCol, "upsert")

  /** The shared generational ingest behind [[append]] and [[upsert]] —
    * crash-safe under the `_inflight` marker protocol (the
    * [[graft.operators.GraphMaintenance]] discipline on the text side):
    * marker first, then doc-lengths at gen `g`, then postings at gen
    * `g`, then the tombstone publish, then marker clear. Every resume
    * point is derivable from the artifact: a doclen row exists for
    * every doc (zero-token ones included), so recovery decides from the
    * gen-`g` doclen slice whether the batch's postings must exist and
    * rolls forward (publish) or back (drop the half-landed slice).
    */
  private def ingest(docs: DataFrame, idCol: String, textCol: String,
                     verb: String): TextIndex =
    TextIndex.verbLocks.computeIfAbsent(path, _ => new Object).synchronized {
     graft.operators.Artifacts.withLease(spark, path, s"TextIndex.$verb") {
      completeInflight() // settle a crashed predecessor first
      if (verb == "append") {
        // new-docs-only against the LIVE view: a live duplicate would
        // inflate N/avgdl and split tf (upsert is the replacement
        // verb); a delete()d id has no live rows and is fair game —
        // its new rows carry a higher generation than the tombstone
        val dup = docLengths.select("doc_id")
          .join(docs.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id"), "leftsemi")
          .limit(1).collect()
        require(dup.isEmpty,
          s"TextIndex.append is new-docs-only: doc_id ${dup.headOption.map(_.get(0)).orNull} " +
            "is live in the index (re-appending would inflate df/N and split tf; " +
            "use upsert to replace it)")
      }
      val g = Tombstones.nextGen(spark, path)
      GraphMaintenance.writeMarker(spark, path, verb, g)
      // the batch must carry the index's own metadata columns, so a
      // filtered search stays total over ingested docs too. Both table
      // appends land at gen g ABOVE the published generation, so a
      // concurrent reader sees none of this until the publish rename.
      Retrieval.appendPostings(docs, idCol, textCol,
        s"$path/postings", s"$path/doclen", metaCols = metaColumns,
        gen = Some(g))
      completeInflight()
      this
     }
    }

  /** Finish (or resume) an in-flight mutation — idempotent, called by
    * the verbs and by [[TextIndex.load]] after a crash. Decision table
    * from the gen-`g` slices alone: no doclen rows at `g` ⇒ nothing
    * landed (clear the marker — the mutation never happened); doclen
    * landed and its postings obligation is met (some `dl > 0` row
    * implies postings rows must exist at `g`) ⇒ append the superseding
    * tombstone (recomputed: physical ids below `g` ∩ the batch — still
    * INERT, `upto = g-1` is not below the published generation) and
    * then PUBLISH: one `_pubgen` rename flips the reader view from
    * exactly-pre-batch to exactly-post-batch (new rows become visible
    * and the tombstone becomes effective in the same instant); doclen
    * landed but the postings append was lost ⇒ roll the half-landed
    * doclen slice back (its gen-homogeneous appended files are deleted
    * whole), published generation untouched. A crashed DELETE resumes
    * by re-publishing at its generation — the tombstone append is one
    * atomic job, so the bump either activates it (delete completed) or
    * is a harmless no-op (delete never happened; the verb never
    * returned).
    */
  private def completeInflight(): Unit =
    GraphMaintenance.inflight(spark, path).foreach { m =>
      val g = m.gen
      if (m.verb == "delete") {
        TextIndex.writePublishedGen(spark, path, g)
      } else {
        val dlAll = Tombstones.readWithGen(spark, s"$path/doclen")
        val dlG = dlAll.where(col("gen") === g)
        if (dlG.limit(1).collect().nonEmpty) {
          val needPostings = dlG.where(col("dl") > 0).limit(1).collect().nonEmpty
          val postingsOk = !needPostings ||
            Tombstones.readWithGen(spark, s"$path/postings").where(col("gen") === g)
              .limit(1).collect().nonEmpty
          if (postingsOk) {
            val changed = dlAll.where(col("gen") < g).select("doc_id")
              .join(dlG.select("doc_id"), Seq("doc_id"), "leftsemi").distinct()
            if (changed.limit(1).collect().nonEmpty)
              Tombstones.appendUpto(spark, path, changed, g - 1)
            TextIndex.writePublishedGen(spark, path, g)
          } else {
            TextIndex.dropGenFiles(spark, s"$path/doclen", g)
          }
        }
      }
      GraphMaintenance.clearMarker(spark, path)
    }

  /** Tombstone documents (the delete twin of [[append]], reference:
    * remove_vectors): `ids` rows (first column, cast long) stop
    * appearing in EVERY search — BM25 stats, df, phrase/near matches —
    * without a rebuild; [[compact]] later folds the tombstones into the
    * data files. Like append, single-writer across processes AND
    * queued behind append's per-path JVM lock in-process.
    */
  def delete(ids: DataFrame): TextIndex =
    TextIndex.verbLocks.computeIfAbsent(path, _ => new Object).synchronized {
     graft.operators.Artifacts.withLease(spark, path, "TextIndex.delete") {
      completeInflight()
      // generation-SCOPED: kills every row the ids have as of now while
      // leaving them REUSABLE — a later append/upsert carries a higher
      // generation and outlives this tombstone, with no compact() before
      // the id's reuse. Under the publish gate the appended tombstone is
      // INERT (upto = g-1 is not below the published generation) until
      // the marker protocol publishes generation g — the delete too is
      // all-or-nothing to a reader.
      val g = Tombstones.nextGen(spark, path)
      GraphMaintenance.writeMarker(spark, path, "delete", g)
      Tombstones.appendUpto(spark, path,
        ids.select(col(ids.columns.head).cast("long")), g - 1)
      completeInflight()
      // growth policy: the sidecar must not grow unbounded between manual
      // compact() calls (every read pays the anti-join + the dead-row
      // scan). Once its distinct dead ids exceed the artifact's recorded
      // threshold of the doc table's physical rows, fold it in right
      // here — the same crash-safe compact the manual verb runs. A
      // footer count on the doc table + a narrow sidecar scan per delete.
      Tombstones.maybeCompact(spark, path, compactTables,
        spark.read.parquet(s"$path/doclen").count())
      this
     }
    }

  /** Both artifact tables of a tombstone fold — shared by [[compact]]
    * and the auto-compact policy in [[delete]].
    */
  private def compactTables: Seq[Tombstones.TombTable] = Seq(
    Tombstones.TombTable("postings", Seq("doc_id"), sortCols = Seq("term", "doc_id"),
      genCol = Some("gen")),
    Tombstones.TombTable("doclen", Seq("doc_id"), genCol = Some("gen")))

  /** Compaction: fold live tombstones into the data files (rewrite both
    * tables minus deleted docs — [[graft.operators.Tombstones.compact]],
    * same crash-safe swap) and re-range-sort the postings so term
    * pruning returns to row-group granularity
    * ([[graft.operators.Retrieval.compactPostings]] when nothing was
    * deleted). Answers are unchanged (RetrievalSpec proves
    * serve-equality); only the files a term predicate must open shrink
    * and the read-time anti-join disappears (PersistSpec asserts both).
    */
  def compact(): TextIndex =
    TextIndex.verbLocks.computeIfAbsent(path, _ => new Object).synchronized {
     graft.operators.Artifacts.withLease(spark, path, "TextIndex.compact") {
      // settle a crashed predecessor FIRST, like every other verb (and
      // like VectorIndex.compact's recoverIfInflight): folding the
      // tombstones while a half-landed gen-g doclen slice is still on
      // disk would rewrite it into mixed-generation files, making the
      // later rollback's gen-homogeneous file delete a silent no-op —
      // permanent ghost doclen rows inflating N/avgdl for every query
      completeInflight()
      if (Tombstones.present(spark, path))
        Tombstones.compact(spark, path, compactTables)
      else
        Retrieval.compactPostings(spark, s"$path/postings")
      this
     }
    }

  def count: Long = docLengths.count()

  /** Index bookkeeping incl. the tombstone lifecycle state: live vs
    * physical docs, distinct dead ids, the dead fraction every read
    * currently pays, the recorded auto-compact threshold, and the
    * single-writer lease state (`lease_held` + the holder's payload —
    * a held or orphaned lease is visible here BEFORE a maintenance
    * verb fails on it; the crashed-holder runbook is in README) — the
    * operational stats a serving owner reads before wondering why the
    * anti-join is in the plan.
    */
  def stats: DataFrame = {
    val physical = spark.read.parquet(s"$path/doclen").count()
    val tomb = Tombstones.rowCount(spark, path)
    val lease = graft.operators.Artifacts.leaseInfo(spark, path)
    val inflight = GraphMaintenance.inflight(spark, path)
    // the generational-append cost readout: every mutating batch lands
    // its own gen slice (and its own small files), and every term-pruned
    // read pays the accumulated file count until a compact() re-sorts —
    // these two numbers price the compaction cadence (the
    // lookup_cost_model discipline on the text side). Slices = distinct
    // physical gen stamps; compaction restamps to the gen-0 baseline, so
    // post-compact slices = 1 (PersistSpec asserts it).
    val slice = Tombstones.readWithGen(spark, s"$path/postings")
      .select(col("gen"),
        org.apache.spark.sql.functions.input_file_name().as("_f"))
      .agg(
        org.apache.spark.sql.functions.countDistinct(col("gen")).as("slices"),
        org.apache.spark.sql.functions.countDistinct(col("_f")).as("files"))
      .collect().head
    import spark.implicits._
    Seq((count, physical, tomb,
      tomb.toDouble / math.max(physical, 1L),
      Tombstones.policyRatio(spark, path),
      lease.isDefined, lease.orNull,
      // the text-side generation state: how many mutating batches the
      // artifact has absorbed, and whether one is mid-publish
      Tombstones.currentGen(spark, path),
      inflight.map(m => s"${m.verb}@gen${m.gen}").orNull,
      slice.getLong(0), slice.getLong(1)))
      .toDF("n_docs", "n_physical", "n_tombstones", "dead_fraction",
        "autocompact_threshold", "lease_held", "lease_holder",
        "generation", "inflight", "postings_slices", "postings_files")
  }
}

object TextIndex {

  /** ONE tokenize pass over the corpus writes both artifact tables:
    * the (doc_id, toks[, meta...]) projection lands once as a scratch
    * parquet under the index dir, both tables derive from the STORED
    * copy (so `wordTokens` evaluates exactly once per document), and
    * the scratch projection is deleted after the build. `metaCols`
    * ride the doc-length table as the index's filter columns
    * ([[TextIndex.searchFiltered]]). Returns the path-backed handle.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            metaCols: String*): TextIndex = {
    val spark = docs.sparkSession
    val scratch = s"$path/_toks_scratch"
    Retrieval.tokensProjection(docs, idCol, textCol, metaCols: _*)
      .write.mode("overwrite").parquet(scratch)
    val tokens = spark.read.parquet(scratch)
    // generation 0 = the build, like every generation-stamped layout:
    // each later append stamps its own, so both tables keep one schema
    Retrieval.postingsFromTokens(tokens).withColumn("gen", lit(0L))
      .write.mode("overwrite").parquet(s"$path/postings")
    Retrieval.docLengthsFromTokens(tokens).withColumn("gen", lit(0L))
      .write.mode("overwrite").parquet(s"$path/doclen")
    val p = new org.apache.hadoop.fs.Path(scratch)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // a build rewrites the index from scratch — a previous occupant of
    // the path must not leak its tombstones, generation counter or
    // in-flight marker into the fresh artifact
    Tombstones.clear(spark, path)
    Tombstones.clearGen(spark, path)
    GraphMaintenance.clearMarker(spark, path)
    // fresh artifact: everything it holds is generation 0 — published
    writePublishedGen(spark, path, 0L)
    load(spark, path)
  }

  /** Reopen a built index after a restart — no rebuild, no tokenize.
    * Resolves any interrupted compaction first
    * ([[graft.operators.Retrieval.recoverCompaction]]): a crash between
    * the swap renames leaves a complete copy at a deterministic sibling
    * name, and load adopts it, so the postings table is always present
    * at the index's own path.
    */
  def load(spark: SparkSession, path: String): TextIndex = {
    Retrieval.recoverCompaction(spark, s"$path/postings")
    // the tombstone-folding compact() swaps BOTH tables under _tomb_*
    // names — recover those windows too, or a crash between the
    // aside-rename and the swap-in leaves a table dir missing
    Tombstones.recover(spark, s"$path/postings")
    Tombstones.recover(spark, s"$path/doclen")
    val pubgen = new org.apache.hadoop.fs.Path(s"$path/_pubgen")
    val fs = pubgen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(pubgen) || fs.exists(new org.apache.hadoop.fs.Path(s"$path/_pubgen_tmp")),
      s"$path is a text index without _pubgen, a layout only older builds wrote — " +
        "rebuild it (TextIndex.build) from its source documents")
    val idx = new TextIndex(spark, path)
    // a crashed ingest leaves its `_inflight` marker: finish its
    // publish (or roll the half-landed slice back) so this load serves
    // a consistent generation. Needs the single-writer lease — held
    // means a live writer (or the crashed-holder runbook) owns it.
    if (GraphMaintenance.inflight(spark, path).isDefined
        && graft.operators.Artifacts.leaseInfo(spark, path).isEmpty) {
      try graft.operators.Artifacts.withLease(spark, path, "TextIndex.load/recover") {
        idx.completeInflight()
      } catch { case _: IllegalStateException => () } // lost the race to a live writer
    }
    idx
  }

  /** Drop a half-landed generational append: the batch's files are
    * gen-homogeneous by construction (every append job stamps one
    * generation), so the rollback deletes exactly the files whose every
    * row carries `g` — never a build or compacted file (those carry
    * gen 0 / mixed stamps).
    */
  private[api] def dropGenFiles(spark: SparkSession, tablePath: String, g: Long): Unit = {
    import org.apache.spark.sql.functions.{input_file_name, max => smax, min => smin}
    val perFile = Tombstones.readWithGen(spark, tablePath)
      .groupBy(input_file_name().as("f"))
      .agg(smin("gen").as("lo"), smax("gen").as("hi"))
      .where(col("lo") === g && col("hi") === g)
      .select("f").collect().map(_.getString(0))
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    perFile.foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(f)), false)
    }
    spark.catalog.refreshByPath(tablePath)
  }

  /** The artifact's PUBLISHED generation — the `_pubgen` file at the
    * index root, the single rename behind the atomic publish: readers
    * serve rows at `gen <= publishedGen` with only tombstones at
    * `upto < publishedGen` effective, and every mutation's final step
    * is bumping this file to its own generation ([[TextIndex.build]]
    * writes 0). Temp-file adoption heals a crash between the delete and
    * the rename, like the `_gen` counter's.
    */
  private[graft] def publishedGen(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_pubgen")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_pubgen_tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // best-effort temp adoption: a pure READER can race a live writer
    // inside writePublishedGen's delete-then-rename window (or another
    // reader's adoption), so a lost rename must not fail the read —
    // whichever rename wins, a complete value exists at `_pubgen` or
    // still at the temp (the temp is written complete before any rename
    // and holds the gen of a FULLY-landed batch, so reading it serves
    // the post-batch view a hair early, never a mixed state).
    if (!fs.exists(p) && fs.exists(tmp)) fs.rename(tmp, p)
    def readLong(f: org.apache.hadoop.fs.Path): Long = {
      val in = fs.open(f)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      raw.trim.toLong
    }
    try {
      if (fs.exists(p)) readLong(p)
      else if (fs.exists(tmp)) readLong(tmp)
      else Long.MaxValue
    } catch {
      // the exists/open gap can race the writer's delete: by then the
      // batch is fully landed (publish is the LAST step), so the
      // serve-everything gate IS the post-batch view
      case _: java.io.FileNotFoundException => Long.MaxValue
      // a reader racing the FIRST-ever publish can open a temp the
      // writer is still writing — an empty/partial read parses as
      // garbage, and the documented best-effort contract degrades to
      // the serve-everything gate, not an uncaught parse error
      case _: NumberFormatException => Long.MaxValue
    }
  }

  private[graft] def writePublishedGen(spark: SparkSession, path: String, g: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_pubgen")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_pubgen_tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(g.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    // a concurrent READER may adopt our freshly-written temp (same
    // content) between the delete and this rename — losing that race
    // still leaves the value published, so only fail when no complete
    // `_pubgen` exists afterwards
    if (!fs.rename(tmp, p))
      require(fs.exists(p), s"_pubgen rename failed for $path")
  }

  /** Per-index-path JVM locks serializing ALL in-process maintenance
    * verbs (append / delete / compact — see [[TextIndex.append]]'s
    * scaladoc): same-JVM racers queue consistently regardless of which
    * two verbs collide, instead of one failing on the other's
    * cross-process lease.
    */
  private val verbLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
