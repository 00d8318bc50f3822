package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.api._
import graft.operators.{IvfIndex, LshIndex}
import graft.sources.Tables

/** The restart story (reference: RocksDB scalar store surviving restart,
  * src/db/scalar_storage.rs + faiss index files): save → load → search
  * must return the same rows as searching the live index, and the
  * reloaded IVF/LSH search must PRUNE PARTITIONS — fewer files touched
  * than the table holds — not merely filter rows.
  */
class PersistSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getPath

  /** The first FileSourceScanExec of a physical plan, descending through
    * the AQE wrapper nodes that hide their subtree from `collect`.
    */
  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def find(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec    => Seq(f)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec        => find(q.plan)
    }.flatten
    find(df.queryExecution.executedPlan).head
  }

  /** ALL FileSourceScanExec nodes of a physical plan (AQE-descending). */
  private def scansOf(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def find(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec    => Seq(f)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec        => find(q.plan)
    }.flatten
    find(df.queryExecution.executedPlan)
  }

  test("IvfIndex writePartitioned -> searchPersisted: same answer, pruned file listing") {
    val emb = Tables.embeddings(spark, sf001)
    val centroids = IvfIndex.fitCached(emb, "embedding", k = 16)
    val q = emb.where(col("vec_id") === 2L).select("embedding").first().getSeq[Float](0).toArray
    val path = tmp("graft-ivf-persist")

    IvfIndex.writePartitioned(emb, "embedding", centroids, path)
    val live = IvfIndex.search(emb, "vec_id", "embedding", centroids, q, k = 10, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val persisted = IvfIndex.searchPersisted(spark, path, "vec_id", "embedding",
      centroids, q, k = 10, nprobe = 4)
    assert(persisted.collect().map(_.toSeq).toSeq === live)

    // partition pruning, not row filtering: the probe filter must reach the
    // file listing, and unprobed clusters must contribute zero files.
    val probed = IvfIndex.probes(q, centroids, nprobe = 4)
    val pruned = IvfIndex.readPruned(spark, path, probed, "vec_id")
    val scan = scanOf(pruned)
    assert(scan.partitionFilters.nonEmpty, "cluster IN (...) must be a partition filter")
    val total = scanOf(spark.read.parquet(path)).selectedPartitions.partitionCount
    assert(scan.selectedPartitions.partitionCount === probed.length)
    assert(scan.selectedPartitions.partitionCount < total)
  }

  test("filtered persisted search: partition prune AND pushed label filter compose") {
    // The filtered_ann_ivf_persisted serving shape: ONE loaded plan in
    // which the nprobe cluster predicate prunes at file-listing time
    // (partition filter) while the metadata predicate pushes into the
    // parquet row-group scan (data filter) — neither pruning gives way
    // to the other.
    val emb = Tables.embeddings(spark, sf001)
    val centroids = IvfIndex.fitCached(emb, "embedding", k = 16)
    val q = emb.where(col("vec_id") === 12L).select("embedding").first().getSeq[Float](0).toArray
    val path = tmp("graft-ivf-filtered-persist")
    IvfIndex.writePartitioned(emb, "embedding", centroids, path)

    val probed = IvfIndex.probes(q, centroids, nprobe = 4)
    val pruned = IvfIndex.readPruned(spark, path, probed, "vec_id").where(col("label") === 2)
    val scan = scanOf(pruned)
    assert(scan.partitionFilters.nonEmpty, "cluster IN (...) must prune at file listing")
    assert(scan.selectedPartitions.partitionCount === probed.length)
    assert(scan.metadata.getOrElse("PushedFilters", "").contains("EqualTo(label,2)"),
      s"label predicate must push to the parquet scan: ${scan.metadata}")

    // and the composed answer equals the live filtered search
    val live = IvfIndex.search(emb.where(col("label") === 2), "vec_id", "embedding",
      centroids, q, k = 10, nprobe = 4).collect().map(_.toSeq).toSeq
    val persisted = operators.Knn.searchExact(pruned, "vec_id", "embedding", q, 10, "l2")
      .collect().map(_.toSeq).toSeq
    assert(persisted === live)
  }

  test("appendPartitioned: incremental rows join their cluster partition, still pruned") {
    val emb = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val centroids = IvfIndex.fitCached(emb, "embedding", k = 16)
    val q = Tables.embeddings(spark, sf001)
      .where(col("vec_id") === 9L).select("embedding").first().getSeq[Float](0).toArray
    val path = tmp("graft-ivf-append")

    IvfIndex.writePartitioned(emb, "embedding", centroids, path)
    val newRow = emb.where(col("vec_id") === 9L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    IvfIndex.appendPartitioned(newRow, "embedding", centroids, path)

    val hits = IvfIndex.searchPersisted(spark, path, "vec_id", "embedding",
      centroids, q, k = 2, nprobe = 4).collect()
    // the appended copy ties its source at distance 0 and is found
    assert(hits.map(_.getLong(1)).toSet === Set(9L, 1000009L))
    // pruning is unchanged: still nprobe partitions of 16
    val probed = IvfIndex.probes(q, centroids, nprobe = 4)
    val scan = scanOf(IvfIndex.readPruned(spark, path, probed, "vec_id"))
    assert(scan.selectedPartitions.partitionCount === probed.length)
  }

  test("VectorIndex IVF save -> load -> search round trip, pruned") {
    val rows = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        to_json(struct(col("label"))).as("data"))
    val idx = VectorIndex.create(spark, IndexType.IVF, 64, Metric.L2,
      IndexParams(ivfClusters = 8, nprobe = 2)).insertAll(rows)
    val q = rows.where(col("id") === 5L).select("vectors").first().getSeq[Float](0).toArray

    val path = tmp("graft-vidx-ivf")
    idx.save(path)
    val reloaded = VectorIndex.load(spark, path)
    assert(reloaded.key === idx.key)
    assert(reloaded.params === idx.params)
    assert(reloaded.count === idx.count)

    val live = idx.search(q, 10).collect().map(_.toSeq).toSeq
    val loaded = reloaded.search(q, 10)
    assert(loaded.collect().map(_.toSeq).toSeq === live)
    // the reloaded search must scan only nprobe of the 8 cluster partitions
    val scan = scanOf(loaded)
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount <= 2)

    // a loaded index keeps serving point lookups and filtered search —
    // the json pre-filter composes with the partition-pruned scan
    assert(reloaded.query(5L).count() === 1L)
    val filtered = reloaded.searchFiltered(q, 10, "label", FilterOp.NotEqual, -999L)
    assert(filtered.collect().map(_.toSeq).toSeq === live) // matches unfiltered
    assert(scanOf(filtered).partitionFilters.nonEmpty)     // still pruned

    // delete preserves the pruned layout; insert falls back (and stays correct)
    val afterDelete = reloaded.deleteAll(rows.where(col("id") === live.head(1)).select("id"))
    val next = afterDelete.search(q, 1).collect().head
    assert(next.getLong(1) !== live.head(1))
    val afterInsert = reloaded.insert(999999L, q)
    val hits = afterInsert.search(q, 2).collect()
    // id 5 (the query's source) and the new row tie at distance 0
    assert(hits.map(_.getLong(1)).toSet === Set(5L, 999999L))
    assert(hits.forall(_.getDouble(2) === 0.0))
  }

  test("VectorIndex LSH save -> load: bucket-partitioned, same answer as live") {
    val rows = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"))
    val idx = VectorIndex.create(spark, IndexType.LSH, 64, Metric.L2,
      IndexParams(lshBits = 4, lshRadius = 1)).insertAll(rows)
    val q = rows.where(col("id") === 3L).select("vectors").first().getSeq[Float](0).toArray

    val path = tmp("graft-vidx-lsh")
    idx.save(path)
    val reloaded = VectorIndex.load(spark, path)
    val live = idx.search(q, 10).collect().map(_.toSeq).toSeq
    val loaded = reloaded.search(q, 10)
    assert(loaded.collect().map(_.toSeq).toSeq === live)
    val scan = scanOf(loaded)
    assert(scan.partitionFilters.nonEmpty)
    // radius 1 on 4 bits probes 5 of up to 16 buckets
    assert(scan.selectedPartitions.partitionCount <= 5)
  }

  test("banded LSH save -> load: (band, bucket)-partitioned, same answer, pruned") {
    val rows = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"))
    val idx = VectorIndex.create(spark, IndexType.LSH, 64, Metric.L2,
      IndexParams(lshBits = 4, lshRadius = 0, lshBands = 2)).insertAll(rows)
    val q = rows.where(col("id") === 3L).select("vectors").first().getSeq[Float](0).toArray

    val path = tmp("graft-vidx-lsh-banded")
    idx.save(path)
    val reloaded = VectorIndex.load(spark, path)
    assert(reloaded.params.lshBands === 2)
    val live = idx.search(q, 10).collect().map(_.toSeq).toSeq
    val loaded = reloaded.search(q, 10)
    assert(loaded.collect().map(_.toSeq).toSeq === live)
    // radius 0 probes ONE bucket per band: <= 2 of up to 32 (band, bucket)
    // partitions survive the file-listing prune
    val scan = scanOf(loaded)
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount <= 2)
    // mutations on the loaded banded state see ONE copy of each row
    assert(reloaded.count === idx.count)
    // batch search and point query on the loaded banded state run over
    // the single logical copy (no duplicate rows, no duplicate hits)
    val queries = rows.limit(3).select(col("id").as("q_id"), col("vectors").as("q_vec"))
    val liveB = idx.searchBatch(queries, 5).collect().map(_.toSeq).sortBy(_.toString)
    val loadB = reloaded.searchBatch(queries, 5).collect().map(_.toSeq).sortBy(_.toString)
    assert(loadB.toSeq === liveB.toSeq)
    assert(reloaded.query(3L).count() === 1L)
    // insert after load invalidates the layout but keeps one copy per id
    assert(reloaded.insert(999L, Array.fill(64)(0.5f)).count === idx.count + 1)
  }

  test("empty index save -> load round trip (FLAT, IVF, LSH and BINARY degrade cleanly)") {
    for (kind <- Seq(IndexType.FLAT, IndexType.IVF, IndexType.LSH, IndexType.BINARY)) {
      val idx = VectorIndex.create(spark, kind, 2, Metric.L2)
      val path = tmp(s"graft-empty-$kind")
      idx.save(path)
      val re = VectorIndex.load(spark, path)
      assert(re.count === 0L)
      assert(re.search(Array(1f, 0f), 3).collect().isEmpty)
    }
  }

  test("VectorIndex BINARY save -> load round trip; rerank ≥ n equals FLAT") {
    var bin = VectorIndex.create(spark, IndexType.BINARY, 4, Metric.L2,
      IndexParams(binaryRerank = 1000))
    var flat = VectorIndex.create(spark, IndexType.FLAT, 4, Metric.L2)
    val rnd = new scala.util.Random(3)
    for (i <- 0L until 30L) {
      val v = Array.fill(4)(rnd.nextGaussian().toFloat)
      bin = bin.insert(i, v); flat = flat.insert(i, v)
    }
    val q = Array(0.5f, -0.5f, 0.25f, 0f)
    // rerank covers the whole table ⇒ the hamming cut excludes nothing
    assert(bin.search(q, 5).collect().map(_.toSeq).toSeq
      === flat.search(q, 5).collect().map(_.toSeq).toSeq)
    val path = tmp("graft-vidx-binary")
    bin.save(path)
    val re = VectorIndex.load(spark, path)
    assert(re.key === bin.key && re.params === bin.params)
    assert(re.search(q, 5).collect().map(_.toSeq).toSeq
      === bin.search(q, 5).collect().map(_.toSeq).toSeq)
  }

  test("VectorIndex PQ save -> load round trip; loaded ADC stage scans codes, not vectors") {
    val emb = Tables.embeddings(spark, sf001).limit(100)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"))
    val pq = VectorIndex.create(spark, IndexType.PQ, 64, Metric.L2,
        IndexParams(pqSubspaces = 8, pqRerank = 1000))
      .insertAll(emb)
    val flat = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2).insertAll(emb)
    val q = Tables.embeddings(spark, sf001).where(col("vec_id") === 7L)
      .select("embedding").first().getSeq[Float](0).toArray
    // pqRerank ≥ n ⇒ the ADC cut excludes nothing ⇒ exactly the FLAT answer
    assert(pq.search(q, 5).collect().map(_.toSeq).toSeq
      === flat.search(q, 5).collect().map(_.toSeq).toSeq)

    val path = tmp("graft-vidx-pq")
    pq.save(path)
    assert(spark.read.parquet(s"$path/data").columns.contains("codes"))
    val re = VectorIndex.load(spark, path)
    assert(re.key === pq.key && re.params === pq.params)
    val res = re.search(q, 5)
    assert(res.collect().map(_.toSeq).toSeq
      === pq.search(q, 5).collect().map(_.toSeq).toSeq)
    // "codes hot, vectors cold": the ADC candidate stage must read the
    // persisted codes column WITHOUT the 256-byte vectors column
    val adcScans = scansOf(res).filter { s =>
      val f = s.schema.fieldNames
      f.contains("codes") && !f.contains("vectors")
    }
    assert(adcScans.nonEmpty, "loaded PQ search must have a narrow id+codes scan")

    // post-load mutation drops the persisted layout and still serves
    // (a far-away vector, so the new row is the unambiguous nearest)
    val far = Array.fill(64)(100f)
    val mutated = re.insert(100000L, far)
    assert(mutated.search(far, 1).collect().head.getLong(1) === 100000L)
  }

  test("VectorIndex IVFPQ save -> load: cluster-pruned AND narrow codes scan") {
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"))
    val q = Tables.embeddings(spark, sf001).where(col("vec_id") === 7L)
      .select("embedding").first().getSeq[Float](0).toArray

    // nprobe = K and pqRerank ≥ n ⇒ neither stage excludes anything ⇒ FLAT
    val full = VectorIndex.create(spark, IndexType.IVFPQ, 64, Metric.L2,
        IndexParams(ivfClusters = 8, nprobe = 8, pqSubspaces = 8, pqRerank = 1000))
      .insertAll(emb)
    val flat = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2).insertAll(emb)
    assert(full.search(q, 5).collect().map(_.toSeq).toSeq
      === flat.search(q, 5).collect().map(_.toSeq).toSeq)

    // the serving configuration: low nprobe, bounded re-rank
    val idx = VectorIndex.create(spark, IndexType.IVFPQ, 64, Metric.L2,
        IndexParams(ivfClusters = 8, nprobe = 2, pqSubspaces = 8, pqRerank = 50))
      .insertAll(emb)
    val path = tmp("graft-vidx-ivfpq")
    idx.save(path)
    val data = spark.read.parquet(s"$path/data")
    assert(data.columns.contains("codes") && data.columns.contains("cluster"))
    val re = VectorIndex.load(spark, path)
    assert(re.key === idx.key && re.params === idx.params)
    val res = re.search(q, 5)
    // loaded (partition-pruned, persisted codes) ≡ live (computed
    // assignment, map-side encode): same centroids, same codebooks
    assert(res.collect().map(_.toSeq).toSeq
      === idx.search(q, 5).collect().map(_.toSeq).toSeq)

    // the multiplied savings are visible in one plan: the loaded search
    // (a) partition-prunes the cluster dirs at file-listing time and
    // (b) reads codes without the 256-byte vectors column
    val scans = scansOf(res)
    val prunedScans = scans.filter(_.partitionFilters.nonEmpty)
    assert(prunedScans.nonEmpty, "loaded IVFPQ search must partition-prune")
    assert(prunedScans.exists(_.selectedPartitions.partitionCount <= 2))
    assert(scans.exists { s =>
      val f = s.schema.fieldNames
      f.contains("codes") && !f.contains("vectors")
    }, "loaded IVFPQ search must have a narrow codes scan")

    // post-load mutation invalidates the layout and still serves
    val far = Array.fill(64)(100f)
    assert(re.insert(100000L, far).search(far, 1).collect().head.getLong(1) === 100000L)
  }

  test("VectorIndex SQ8 save -> load: bounds persist, re-rank equals FLAT") {
    val emb = Tables.embeddings(spark, sf001).limit(100)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"))
    val sq = VectorIndex.create(spark, IndexType.SQ8, 64, Metric.L2,
        IndexParams(sqRerank = 1000)).insertAll(emb)
    val flat = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2).insertAll(emb)
    val q = Tables.embeddings(spark, sf001).where(col("vec_id") === 7L)
      .select("embedding").first().getSeq[Float](0).toArray
    // sqRerank ≥ n ⇒ the reconstruction cut excludes nothing ⇒ FLAT
    assert(sq.search(q, 5).collect().map(_.toSeq).toSeq
      === flat.search(q, 5).collect().map(_.toSeq).toSeq)

    val path = tmp("graft-vidx-sq8")
    sq.save(path)
    // the trained artifact (dim rows of bounds) is on disk
    assert(spark.read.parquet(s"$path/bounds").count() === 64L)
    val re = VectorIndex.load(spark, path)
    assert(re.key === sq.key && re.params === sq.params)
    assert(re.search(q, 5).collect().map(_.toSeq).toSeq
      === sq.search(q, 5).collect().map(_.toSeq).toSeq)
  }

  test("empty IVFPQ and SQ8 indexes save -> load -> search degrade cleanly") {
    for (kind <- Seq(IndexType.IVFPQ, IndexType.SQ8)) {
      val idx = VectorIndex.create(spark, kind, 8, Metric.L2)
      val path = tmp(s"graft-vidx-empty-$kind")
      idx.save(path)
      val re = VectorIndex.load(spark, path)
      assert(re.key === idx.key)
      assert(re.search(Array.fill(8)(1f), 3).count() === 0L)
    }
  }

  test("TextIndex compaction: appended files degrade term pruning; compact restores it") {
    val s = spark; import s.implicits._
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val standing = docs.where(col("doc_id") % 5 =!= 0)
    val path = tmp("graft-textindex-compact")
    val idx = TextIndex.build(standing, "doc_id", "text", path)
    val terms = Seq("spark", "hash", "join", "window", "vector")

    // files a term-pruned query actually draws rows from, per phase
    def filesHit(): Long = idx.postings.where(col("term").isin(terms: _*))
      .select(input_file_name()).distinct().count()

    val preAppend = filesHit()

    // two appended batches: each adds whole-batch files spanning the
    // batch vocabulary, so the term query now draws from MORE files
    idx.append(docs.where(col("doc_id") % 10 === 0), "doc_id", "text")
    idx.append(docs.where(col("doc_id") % 10 === 5), "doc_id", "text")
    val duringAppend = filesHit()
    assert(duringAppend > preAppend,
      "append batches must add term-spanning files (the degradation compaction exists for)")
    val appended = idx.search(terms, k = 10).collect().map(_.toSeq).toSeq

    // the slice readout prices the compaction cadence: one gen slice per
    // mutating batch accumulates (build = gen 0 + two appends = 3), and
    // stats counts the physical files a full read opens
    def slices(): (Long, Long) = {
      val r = idx.stats.collect().head
      (r.getAs[Long]("postings_slices"), r.getAs[Long]("postings_files"))
    }
    val (preSlices, preFiles) = slices()
    assert(preSlices === 3L,
      s"build + 2 appends must read as 3 gen slices, got $preSlices")
    assert(preFiles >= 3L, "each appended batch lands at least one file")

    idx.compact()
    // pruning returns to build granularity: the term query draws from
    // no more files than the pre-append layout did
    assert(filesHit() <= preAppend,
      "post-compaction term pruning must return to build-level file counts")
    // ...and the fold collapses the generational slices to the gen-0
    // baseline (the PersistSpec contract behind TextIndex.stats'
    // postings_slices readout)
    assert(slices()._1 === 1L,
      "post-compact postings must read as ONE gen-0 slice")
    // ...and compaction only re-sorts: answers are unchanged, and equal
    // to a from-scratch index over the full corpus
    assert(idx.search(terms, k = 10).collect().map(_.toSeq).toSeq === appended)
    val rebuilt = TextIndex.build(docs, "doc_id", "text", tmp("graft-textindex-rebuilt"))
    assert(appended === rebuilt.search(terms, k = 10).collect().map(_.toSeq).toSeq)
  }

  test("delete twin: a tombstoned id is absent from EVERY loaded backend without rebuild; compaction drops the anti-join") {
    val s = spark; import s.implicits._
    import graft.operators.{Dedup, Knn, PqIndex, Tombstones}
    val emb = Tables.embeddings(spark, sf001)
    val qv = emb.where(col("vec_id") === 0L).select("embedding")
      .first().getSeq[Float](0).toArray
    // id 0 is the query's own vector: rank 1 at distance 0 unless deleted
    val del = Seq(0L)

    // --- cluster-partitioned IVF layout ---
    val cents = IvfIndex.fitCached(emb, "embedding", k = 16)
    val ivf = tmp("graft-del-ivf") + "/layout"
    IvfIndex.writePartitioned(emb, "embedding", cents, ivf)
    assert(IvfIndex.searchPersisted(spark, ivf, "vec_id", "embedding", cents, qv, 10, 16)
      .collect().head.getLong(1) === 0L)
    Tombstones.append(spark, ivf, del.toDF("vec_id"))
    val afterDel = IvfIndex.searchPersisted(spark, ivf, "vec_id", "embedding", cents, qv, 10, 16)
    assert(!afterDel.collect().map(_.getLong(1)).contains(0L),
      "deleted id must be absent from the persisted IVF search")
    // nprobe = K ⇒ the result must equal exact search over survivors
    val exactSurv = Knn.searchExact(emb.where(col("vec_id") =!= 0L),
      "vec_id", "embedding", qv, 10, "l2").collect().map(_.toSeq).toSeq
    assert(afterDel.collect().map(_.toSeq).toSeq === exactSurv)

    // --- PQ codes ---
    val books = PqIndex.fitCached(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val codes = tmp("graft-del-pq") + "/codes"
    PqIndex.writeCodes(emb, "vec_id", "embedding", books, codes)
    Tombstones.append(spark, codes, del.toDF("id"))
    assert(!PqIndex.searchPersisted(spark, codes, emb, "vec_id", "embedding", books, qv,
      k = 10, rerank = 1 << 20).collect().map(_.getLong(1)).contains(0L),
      "deleted id must be absent from the PQ codes search")

    // --- LSH bucket-partitioned layout ---
    val planes = graft.operators.LshIndex.planes(nBits = 4, dim = 64)
    val lsh = tmp("graft-del-lsh") + "/layout"
    LshIndex.writePartitioned(emb, "embedding", planes, lsh)
    Tombstones.append(spark, lsh, del.toDF("vec_id"))
    assert(!LshIndex.searchPersisted(spark, lsh, "vec_id", "embedding", planes, qv,
      k = 10, radius = 4).collect().map(_.getLong(1)).contains(0L),
      "deleted id must be absent from the persisted LSH search")

    // --- text index (postings + doclen + stats) ---
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val ti = TextIndex.build(docs, "doc_id", "text", tmp("graft-del-text") + "/idx")
    val nBefore = ti.count
    val someDoc = ti.search(Seq("table", "hash"), 5).collect().head.getLong(1)
    ti.delete(Seq(someDoc).toDF("doc_id"))
    assert(!ti.search(Seq("table", "hash"), 5).collect().map(_.getLong(1)).contains(someDoc),
      "deleted doc must be absent from BM25 results")
    assert(ti.count === nBefore - 1, "doc-length stats must see the post-delete corpus")
    // compaction folds the tombstones in: same answers, NO anti-join left
    val preCompact = ti.search(Seq("table", "hash"), 5).collect().map(_.toSeq).toSeq
    ti.compact()
    assert(!Tombstones.present(spark, ti.path))
    val post = ti.search(Seq("table", "hash"), 5)
    assert(post.collect().map(_.toSeq).toSeq === preCompact,
      "compaction must not change answers")
    assert(!post.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "post-compaction plans must carry no tombstone join")

    // --- dedup signatures ---
    val ddCorpus = tmp("graft-del-dedup")
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely unrelated text about gardening tomatoes and fresh summer herbs"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(ddCorpus)
    val idx = Dedup.index(spark.read.parquet(ddCorpus), "doc_id", "text")
    idx.delete(Seq(2L).toDF("doc_id"))
    assert(!idx.sig.collect().map(_.getLong(0)).contains(2L),
      "deleted doc must be absent from the signature table")
    assert(Dedup.minhashPairsFromSignatures(idx.sig, 0.5).collect().isEmpty,
      "pairs involving the deleted doc must be gone from signature-served reads")
    // derived tables contain the deleted doc's pairs — they must fail loudly
    intercept[IllegalStateException](idx.minhashPairs(0.5).collect())

    // --- dedup sig compaction: the staleness marker survives the swap ---
    val preSig = idx.sig.collect().map(_.getLong(0)).toSet
    Tombstones.compact(spark, s"${idx.base}/sig",
      Seq(Tombstones.TombTable("", Seq("doc_id"))))
    assert(!Tombstones.present(spark, s"${idx.base}/sig"))
    val sigServed = idx.sig
    assert(sigServed.collect().map(_.getLong(0)).toSet === preSig,
      "compaction must not change the served signature rows")
    assert(!sigServed.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "post-compaction sig reads must carry no tombstone join")
    // the derived tables are STILL stale (their pairs contain the
    // deleted doc) — the _built_state marker must survive the swap so
    // they keep failing loudly until a rebuild
    intercept[IllegalStateException](idx.minhashPairs(0.5).collect())

    // --- k-NN graph ---
    val g = tmp("graft-del-graph") + "/g"
    Knn.knnJoinIvf(emb, "vec_id", "embedding", cents, k = 3, metric = "l2")
      .write.parquet(g)
    Tombstones.append(spark, g, del.toDF("vec_id"))
    val loaded = Knn.loadGraph(spark, g)
    assert(loaded.where(col("q_id") === 0L || col("n_id") === 0L).count() === 0,
      "a deleted vector must vanish both as a query node and as anyone's neighbor")
    assert(loaded.count() > 0)

    // --- IVF compaction: partitioned rewrite, sidecar GC'd, prune preserved ---
    val preIvf = afterDel.collect().map(_.toSeq).toSeq
    Tombstones.compact(spark, ivf,
      Seq(Tombstones.TombTable("", Seq("vec_id"), partitionCols = Seq("cluster"))))
    assert(!Tombstones.present(spark, ivf))
    val served = IvfIndex.searchPersisted(spark, ivf, "vec_id", "embedding", cents, qv, 10, 16)
    assert(served.collect().map(_.toSeq).toSeq === preIvf)
    assert(!served.queryExecution.executedPlan.toString.contains("LeftAnti"))
    // the partition layout survived the rewrite: pruning still file-level
    val pruned = IvfIndex.readPruned(spark, ivf, Seq(0, 1), "vec_id")
    assert(scanOf(pruned).selectedPartitions.partitionCount === 2)
  }

  test("interrupted tombstone compaction recovers a complete copy (both crash windows)") {
    val s = spark; import s.implicits._
    import graft.operators.Tombstones
    val base = tmp("graft-del-recover") + "/t"
    (0L until 100L).map(i => (i, i % 7)).toDF("id", "v").write.parquet(base)
    Tombstones.append(spark, base, Seq(3L).toDF("id"))
    val want = (0L until 100L).filter(_ != 3L).map(i => Seq(i, i % 7)).toSet

    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // window A: complete fresh copy, live table renamed aside
    spark.read.parquet(base).where(col("id") =!= 3L)
      .write.parquet(s"${base}_tomb_new")
    assert(fs.rename(new org.apache.hadoop.fs.Path(base),
      new org.apache.hadoop.fs.Path(s"${base}_tomb_old")))
    Tombstones.recover(spark, base)
    assert(spark.read.parquet(base).collect().map(_.toSeq.toSeq).toSet === want)
    // window B: incomplete fresh (no _SUCCESS), live renamed aside → restore
    assert(fs.rename(new org.apache.hadoop.fs.Path(base),
      new org.apache.hadoop.fs.Path(s"${base}_tomb_old")))
    new java.io.File(s"${base}_tomb_new").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${base}_tomb_new", "part-junk.parquet"), Array[Byte](9))
    Tombstones.recover(spark, base)
    assert(spark.read.parquet(base).collect().map(_.toSeq.toSeq).toSet === want)
  }

  test("deleted-id reuse is LEGAL without compact (generation-scoped deletes); live dups stay loud") {
    val s = spark; import s.implicits._
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").limit(200)
    val path = tmp("graft-text-reuse")
    val idx = TextIndex.build(docs.where(col("doc_id") < 100), "doc_id", "text", path)
    val victim = idx.docLengths.select(min("doc_id")).collect().head.getLong(0)
    idx.delete(Seq(victim).toDF("id"))
    assert(idx.docLengths.where(col("doc_id") === victim).count() === 0L)
    // the delete's tombstone is generation-scoped: the re-append's rows
    // carry a higher generation and outlive it — NO compact needed (the
    // old kill-forever semantics forced one)
    idx.append(docs.where(col("doc_id") === victim), "doc_id", "text")
    assert(idx.docLengths.where(col("doc_id") === victim).count() === 1L)
    // same for a tombstoned id that never had physical rows (delete of
    // an absent id) — previously the silent-loss hazard, now just a
    // lower generation bound the new rows clear
    idx.delete(Seq(999999L).toDF("id"))
    val phantom = docs.where(col("doc_id") === victim)
      .select(lit(999999L).as("doc_id"), col("text"))
    idx.append(phantom, "doc_id", "text")
    assert(idx.docLengths.where(col("doc_id") === 999999L).count() === 1L)
    // LIVE duplicates still fail loudly — upsert is the replacement verb
    val e1 = intercept[IllegalArgumentException] {
      idx.append(docs.where(col("doc_id") === victim), "doc_id", "text")
    }
    assert(e1.getMessage.contains("new-docs-only"), e1.getMessage)
  }

  test("DedupIndex.append rejects standing AND tombstoned doc_ids loudly") {
    val s = spark; import s.implicits._
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").limit(150)
    val idx = Dedup.index(docs, "doc_id", "text", rebuild = true)
    val victim = docs.select(min("doc_id")).collect().head.getLong(0)
    // standing id: raw-table probe (this probe did not exist before)
    val e1 = intercept[IllegalArgumentException] {
      idx.append(docs.where(col("doc_id") === victim), "doc_id", "text")
    }
    assert(e1.getMessage.contains("new-docs-only"), e1.getMessage)
    // deleted id: still physically present → same raw probe, message
    // points at the rebuild path
    idx.delete(Seq(victim).toDF("id"))
    val e2 = intercept[IllegalArgumentException] {
      idx.append(docs.where(col("doc_id") === victim), "doc_id", "text")
    }
    assert(e2.getMessage.contains("new-docs-only"), e2.getMessage)
    // tombstoned id with no physical rows: the sidecar probe fires
    idx.delete(Seq(888888L).toDF("id"))
    val phantom = docs.where(col("doc_id") === victim)
      .select(lit(888888L).as("doc_id"), col("text"))
    val e3 = intercept[IllegalArgumentException] {
      idx.append(phantom, "doc_id", "text")
    }
    assert(e3.getMessage.contains("tombstoned"), e3.getMessage)
    // a genuinely new id still appends
    idx.append(docs.where(col("doc_id") === victim)
      .select(lit(777777L).as("doc_id"), col("text")), "doc_id", "text")
    assert(idx.sig.where(col("doc_id") === 777777L).count() === 1L)
  }

  test("tombstone growth policy: the sidecar auto-folds once it crosses the recorded threshold, on every artifact family") {
    val s = spark; import s.implicits._
    import graft.operators.{Dedup, Tombstones}
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .where(col("doc_id") < 100)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val n = ids.length

    // --- TextIndex -----------------------------------------------------
    val tp = tmp("graft-text-policy")
    val tidx = TextIndex.build(docs, "doc_id", "text", tp)
    val below = ids.take((n * 0.1).toInt) // 10% < the 0.2 threshold
    tidx.delete(below.toSeq.toDF("id"))
    assert(Tombstones.present(spark, tp),
      "below the threshold the sidecar must survive (deletes stay O(batch))")
    // the policy the artifact lives under is recorded beside the sidecar
    assert(Tombstones.policyRatio(spark, tp) === Tombstones.defaultAutoCompactRatio)
    val st = tidx.stats.collect().head
    assert(st.getAs[Long]("n_tombstones") === below.length.toLong)
    assert(st.getAs[Double]("autocompact_threshold") === 0.2)
    assert(st.getAs[Double]("dead_fraction") > 0.0)
    val expectLive = tidx.count
    val more = ids.slice(below.length, (n * 0.3).toInt) // past 20% of physical
    tidx.delete(more.toSeq.toDF("id"))
    assert(!Tombstones.present(spark, tp),
      "crossing the threshold must fold the sidecar in (auto-compact)")
    assert(tidx.count === n - below.length - more.length)
    assert(tidx.count === expectLive - more.length,
      "the fold must not change what a read serves")
    assert(tidx.stats.collect().head.getAs[Double]("dead_fraction") === 0.0)

    // --- DedupIndex ----------------------------------------------------
    val didx = Dedup.index(docs, "doc_id", "text", rebuild = true)
    didx.delete(ids.take((n * 0.25).toInt).toSeq.toDF("id")) // straight past 20%
    assert(!Tombstones.present(spark, s"${didx.base}/sig"),
      "the dedup sidecar must auto-fold past the threshold")
    assert(didx.sig.count() === (n - (n * 0.25).toInt).toLong)
    // after the fold the ids are genuinely gone — re-append is legal
    didx.append(docs.where(col("doc_id") === ids.head), "doc_id", "text")
    assert(didx.sig.where(col("doc_id") === ids.head).count() === 1L)

    // --- path-backed GRAPH VectorIndex ----------------------------------
    val vecs = Tables.embeddings(spark, sf001).where(col("vec_id") < 60)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        lit(null: String).as("data"))
    val gp = tmp("graft-graph-policy") + "/idx"
    VectorIndex.create(spark, IndexType.GRAPH, 64, Metric.L2)
      .insertAll(vecs).save(gp)
    val gidx = VectorIndex.load(spark, gp)
    val gids = vecs.select("id").collect().map(_.getLong(0)).sorted
    gidx.deleteAll(gids.take(5).toSeq.toDF("id")) // 5/60 < 20%
    assert(Tombstones.present(spark, gp))
    // below the threshold the facade's stats surface the lifecycle state
    val gs = gidx.stats.collect().head
    assert(gs.getAs[Long]("n_tombstones") === 5L)
    assert(gs.getAs[Double]("autocompact_threshold") === 0.2)
    assert(gs.getAs[Long]("n_physical") === gids.length.toLong)
    val g2 = gidx.deleteAll(gids.slice(5, 15).toSeq.toDF("id")) // 15/60 = 25%
    assert(!Tombstones.present(spark, gp),
      "the graph sidecar must fold into data + serve tables past the threshold")
    assert(g2.count === (gids.length - 15).toLong)
    val gs2 = g2.stats.collect().head
    assert(gs2.getAs[Long]("n_tombstones") === 0L)
    assert(gs2.getAs[Double]("dead_fraction") === 0.0)
    assert(gs2.getAs[Long]("n_physical") === (gids.length - 15).toLong)
    // the folded serving layout carries no deleted endpoint
    val edges = spark.read.parquet(s"$gp/serve/edges")
    val dead = gids.take(15).toSet
    assert(edges.collect().forall(r => !dead.contains(r.getLong(0)) && !dead.contains(r.getLong(1))))
    // the walk still serves (answers from the survivors only)
    val hits = g2.search(vecs.where(col("id") === gids.last)
      .select("vectors").collect().head.getSeq[Float](0).toArray, 5)
      .collect().map(_.getLong(1))
    assert(hits.nonEmpty && hits.forall(id => !dead.contains(id)))
    // after the fold the deleted ids are physically gone — reuse is an
    // ordinary insert (same contract as the DedupIndex re-append above)
    val back = vecs.where(col("id") === gids.head)
      .select("vectors").collect().head.getSeq[Float](0).toArray
    val reused = g2.insert(gids.head, back)
    assert(reused.query(gids.head).count() === 1L)
    assert(reused.search(back, 3).collect().map(_.getLong(1)).contains(gids.head),
      "a folded-away id must be reusable and immediately served")
  }

  test("recovery REFUSES to sweep the only remaining copy (incomplete fresh, no old, no target)") {
    val s = spark; import s.implicits._
    import graft.operators.{Retrieval, Tombstones}
    def brokenDir(name: String, sibling: String): String = {
      val base = tmp(name) + "/t"
      (0L until 10L).toDF("id").write.parquet(base)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate: live table lost, fresh copy incomplete (no _SUCCESS),
      // aside copy absent — the only bytes left are the incomplete fresh
      assert(fs.rename(new org.apache.hadoop.fs.Path(base),
        new org.apache.hadoop.fs.Path(s"$base$sibling")))
      val success = new org.apache.hadoop.fs.Path(s"$base$sibling/_SUCCESS")
      if (fs.exists(success)) fs.delete(success, false)
      base
    }
    val t = brokenDir("graft-norecover-tomb", "_tomb_new")
    val e1 = intercept[IllegalArgumentException] { Tombstones.recover(spark, t) }
    assert(e1.getMessage.contains("refusing to delete"), e1.getMessage)
    assert(new java.io.File(s"${t}_tomb_new").exists(), "the copy must survive the refusal")
    val p = brokenDir("graft-norecover-post", "_compact_new")
    val e2 = intercept[IllegalArgumentException] { Retrieval.recoverCompaction(spark, p) }
    assert(e2.getMessage.contains("refusing to delete"), e2.getMessage)
    assert(new java.io.File(s"${p}_compact_new").exists(), "the copy must survive the refusal")
  }

  test("TextIndex.load repairs an interrupted tombstone-folding compact on BOTH tables") {
    val s = spark; import s.implicits._
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").limit(100)
    val path = tmp("graft-text-tombrecover")
    val built = TextIndex.build(docs, "doc_id", "text", path)
    val expected = built.search(Seq("spark", "data"), k = 5).collect().map(_.toSeq).toSeq
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash window: doclen renamed aside under the _tomb_* protocol,
    // swap-in never happened — the table dir is MISSING until load()
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$path/doclen"),
      new org.apache.hadoop.fs.Path(s"$path/doclen_tomb_old")))
    val reopened = TextIndex.load(spark, path)
    assert(reopened.search(Seq("spark", "data"), k = 5).collect().map(_.toSeq).toSeq === expected)
  }

  test("VectorIndex FLAT save -> load round trip") {
    val idx = VectorIndex.create(spark, IndexType.FLAT, 2, Metric.Cosine)
      .insert(1L, Array(1f, 0f), """{"k":1}""")
      .insert(2L, Array(0f, 1f))
    val path = tmp("graft-vidx-flat")
    idx.save(path)
    val reloaded = VectorIndex.load(spark, path)
    assert(reloaded.key === idx.key)
    assert(reloaded.search(Array(1f, 0f), 2).collect().map(_.toSeq).toSeq
      === idx.search(Array(1f, 0f), 2).collect().map(_.toSeq).toSeq)
    assert(reloaded.query(1L).collect().head.getString(2) === """{"k":1}""")
  }

  test("generation-scoped tombstones: upto composes by max, plain rows kill forever, gen reads agree") {
    val s = spark; import s.implicits._
    import graft.operators.Tombstones
    val base = tmp("graft-genstones")
    // a gen-stamped table: id 1 at gens 0 and 2, id 2 at gen 0, id 3 at gen 1
    Seq((1L, 0L), (1L, 2L), (2L, 0L), (3L, 1L)).toDF("id", "gen")
      .write.parquet(s"$base/t")
    def live(): Set[(Long, Long)] =
      Tombstones.filterGen(Tombstones.readWithGen(spark, s"$base/t"), base, "id", "gen")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(live() === Set((1L, 0L), (1L, 2L), (2L, 0L), (3L, 1L)), "no sidecar = no filter")
    Tombstones.appendUpto(spark, base, Seq(1L).toDF("id"), uptoGen = 1L)
    assert(live() === Set((1L, 2L), (2L, 0L), (3L, 1L)),
      "upto = 1 kills 1@0 but not 1@2 (the re-inserted generation outlives it)")
    Tombstones.appendUpto(spark, base, Seq(1L).toDF("id"), uptoGen = 0L)
    assert(live() === Set((1L, 2L), (2L, 0L), (3L, 1L)),
      "a LOWER upto for the same id is absorbed (tombstones compose by max)")
    Tombstones.append(spark, base, Seq(3L).toDF("id")) // legacy plain row
    assert(live() === Set((1L, 2L), (2L, 0L)),
      "a plain sidecar row reads as kill-every-generation")

    // edge reads: an edge dies when a tombstone of EITHER endpoint
    // covers the EDGE's generation
    Seq((1L, 2L, 0L), (1L, 2L, 2L), (2L, 3L, 2L)).toDF("a", "b", "gen")
      .write.parquet(s"$base/e")
    val edges = Tombstones.filterEdgesGen(
        Tombstones.readWithGen(spark, s"$base/e"), base, "a", "b", "gen")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(edges === Set((1L, 2L, 2L)),
      "1-2@0 dies (1 covered at gen 0), 1-2@2 lives, 2-3@2 dies (3 killed forever)")

    // the counter: absent = 0, nextGen persists monotonically
    assert(Tombstones.currentGen(spark, base) === 0L)
    assert(Tombstones.nextGen(spark, base) === 1L)
    assert(Tombstones.nextGen(spark, base) === 2L)
    assert(Tombstones.currentGen(spark, base) === 2L)
    Tombstones.clearGen(spark, base)
    assert(Tombstones.currentGen(spark, base) === 0L)

    // gen-aware compact folds with the same keep rule and clears the sidecar
    Tombstones.compact(spark, base, Seq(
      Tombstones.TombTable("t", Seq("id"), genCol = Some("gen")),
      Tombstones.TombTable("e", Seq("a", "b"), genCol = Some("gen"))))
    assert(!Tombstones.present(spark, base))
    // the fold keeps exactly the ids reads served (1 via its gen-2 row,
    // 2 via gen 0) and RESTAMPS them to the gen-0 baseline — a compacted
    // table reads like a fresh build; serve-equivalent because no
    // tombstone survives the fold and every future tombstone's upto is
    // ≥ the (preserved) gen counter ≥ every pre-fold stamp
    assert(live() === Set((1L, 0L), (2L, 0L)),
      "the fold preserves exactly the ids reads served, restamped to the gen-0 baseline")
    assert(spark.read.parquet(s"$base/e").count() === 1L)
  }
}
