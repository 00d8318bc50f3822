package graft

import graft.api._

/** Mirrors the reference engine's own handler test scenarios
  * (reference: src/router/handle/{search_index,upsert,query,create,
  * insert_index}_handle.rs `#[cfg(test)]` blocks) against the Spark
  * facade.
  */
class ApiSpec extends SparkSpec {

  test("create + insert + search: self is nearest with distance 0 (test_search_success)") {
    val idx = VectorIndex.create(spark, IndexType.FLAT, 3, Metric.L2)
      .insert(1L, Array(1f, 2f, 3f))
      .insert(2L, Array(4f, 5f, 6f))
      .insert(3L, Array(7f, 8f, 9f))
    val hits = idx.search(Array(1f, 2f, 3f), 2).collect()
    assert(hits.length === 2)
    assert(hits(0).getLong(1) === 1L)
    assert(hits(0).getDouble(2) === 0.0)
    assert(hits(1).getLong(1) === 2L) // distances ascending
  }

  test("upsert replaces the vector and document, latest wins (test_upsert_handler)") {
    val idx = VectorIndex.create(spark, IndexType.FLAT, 3, Metric.L2)
      .insert(1L, Array(1f, 2f, 3f), """{"name":"sora","age":20}""")
      .upsert(1L, Array(9f, 9f, 9f), """{"name":"sora","age":21}""")
    assert(idx.count === 1L)
    val doc = idx.query(1L).collect().head
    assert(doc.getString(2).contains("21"))
    // the OLD vector must be gone from the index (reference removes it)
    val hit = idx.search(Array(9f, 9f, 9f), 1).collect().head
    assert(hit.getLong(1) === 1L && hit.getDouble(2) === 0.0)
  }

  test("query by id returns the stored document or nothing (test_query_handle)") {
    val idx = VectorIndex.create(spark, IndexType.FLAT, 3, Metric.L2)
      .insert(7L, Array(0f, 0f, 1f), """{"name":"a"}""")
    assert(idx.query(7L).count() === 1L)
    assert(idx.query(8L).count() === 0L)
  }

  test("filtered search honors Equal / NotEqual on an int field (filter_index.rs)") {
    var idx = VectorIndex.create(spark, IndexType.FLAT, 2, Metric.L2)
    for (i <- 0 until 10)
      idx = idx.insert(i.toLong, Array(i.toFloat, 0f), s"""{"age":${i % 2}}""")
    val eq = idx.searchFiltered(Array(0f, 0f), 10, "age", FilterOp.Equal, 1L)
      .collect().map(_.getLong(1)).toSet
    assert(eq === Set(1L, 3L, 5L, 7L, 9L))
    val ne = idx.searchFiltered(Array(0f, 0f), 10, "age", FilterOp.NotEqual, 1L)
      .collect().map(_.getLong(1)).toSet
    assert(ne === Set(0L, 2L, 4L, 6L, 8L))
  }

  test("bulk insertAll/upsertAll over the real embeddings table") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        to_json(struct(col("label"))).as("data"))
    val idx = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2).insertAll(emb)
    assert(idx.count === 500L)

    // bulk upsert: everyone's label becomes 99; count unchanged, data replaced
    val updates = emb.withColumn("data", lit("""{"label":99}"""))
    val upserted = idx.upsertAll(updates)
    assert(upserted.count === 500L)
    assert(upserted.query(7L).collect().head.getString(2) === """{"label":99}""")

    // search still exact after bulk load: self is rank 1 at distance 0
    val qv = emb.where(col("id") === 3L).select("vectors").first().getSeq[Float](0).toArray
    val hit = upserted.search(qv, 1).collect().head
    assert(hit.getLong(1) === 3L && hit.getDouble(2) === 0.0)
  }

  test("delete removes the vector from index and store (remove_vectors analog)") {
    val idx = VectorIndex.create(spark, IndexType.FLAT, 2, Metric.L2)
      .insert(1L, Array(0f, 0f), """{"a":1}""")
      .insert(2L, Array(1f, 0f), """{"a":2}""")
      .insert(3L, Array(2f, 0f), """{"a":3}""")
      .delete(2L)
    assert(idx.count === 2L)
    assert(idx.query(2L).count() === 0L) // document gone
    // the deleted vector never surfaces in search results
    val ids = idx.search(Array(1f, 0f), 3).collect().map(_.getLong(1)).toSet
    assert(ids === Set(1L, 3L))
    // deleting a missing id is a no-op (reference remove is idempotent)
    assert(idx.delete(99L).count === 2L)
  }

  test("bulk deleteAll over the real embeddings table") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        to_json(struct(col("label"))).as("data"))
    val idx = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2).insertAll(emb)
    val tombstones = emb.select("id").where(col("id") % 5 === 0)
    val after = idx.deleteAll(tombstones)
    assert(after.count === 400L)
    assert(after.query(5L).count() === 0L)
    assert(after.query(7L).count() === 1L)
  }

  test("recall knobs: more probed clusters / larger LSH radius never lose results") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        lit(null).cast("string").as("data"))
    val qv = emb.where(col("id") === 11L).select("vectors").first().getSeq[Float](0).toArray
    val exact = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2)
      .insertAll(emb).search(qv, 10).collect().map(_.getLong(1)).toSet

    def recallIvf(nprobe: Int): Double = {
      val got = VectorIndex.create(spark, IndexType.IVF, 64, Metric.L2,
          IndexParams(ivfClusters = 16, nprobe = nprobe))
        .insertAll(emb).search(qv, 10).collect().map(_.getLong(1)).toSet
      (got & exact).size / 10.0
    }
    // nprobe = K probes everything ⇒ exact; a low nprobe may not
    val rAll = recallIvf(16)
    val rLow = recallIvf(2)
    assert(rAll === 1.0)
    assert(rLow <= rAll)

    def recallLsh(radius: Int): Double = {
      val got = VectorIndex.create(spark, IndexType.LSH, 64, Metric.L2,
          IndexParams(lshBits = 4, lshRadius = radius))
        .insertAll(emb).search(qv, 10).collect().map(_.getLong(1)).toSet
      (got & exact).size / 10.0
    }
    // radius 4 probes all 16 buckets ⇒ exact; radius 0 probes one bucket
    assert(recallLsh(4) === 1.0)
    assert(recallLsh(0) <= recallLsh(4))
  }

  test("banded LSH: recall >= single-band at equal total bits (OR amplification)") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        lit(null).cast("string").as("data"))
    val flat = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2).insertAll(emb)
    // equal memory: 8 bits as one table vs 2 bands x 4 bits
    val single = VectorIndex.create(spark, IndexType.LSH, 64, Metric.L2,
      IndexParams(lshBits = 8, lshRadius = 0)).insertAll(emb)
    val banded = VectorIndex.create(spark, IndexType.LSH, 64, Metric.L2,
      IndexParams(lshBits = 4, lshRadius = 0, lshBands = 2)).insertAll(emb)
    def recall(idx: VectorIndex, qv: Array[Float]): Double = {
      val exact = flat.search(qv, 10).collect().map(_.getLong(1)).toSet
      val got = idx.search(qv, 10).collect().map(_.getLong(1)).toSet
      (got & exact).size / 10.0
    }
    val qids = Seq(5L, 11L, 23L, 42L, 77L)
    val qvs = qids.map(q =>
      emb.where(col("id") === q).select("vectors").first().getSeq[Float](0).toArray)
    val rSingle = qvs.map(recall(single, _)).sum / qids.size
    val rBanded = qvs.map(recall(banded, _)).sum / qids.size
    assert(rBanded >= rSingle,
      s"2x4-bit bands must not lose to one 8-bit table: $rBanded < $rSingle")
  }

  test("bulk insertAll/upsertAll reject dim-mismatched rows at action time (BAD_REQUEST)") {
    val s = spark; import s.implicits._
    val bad = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f))).toDF("id", "vectors")
    val idx = VectorIndex.create(spark, IndexType.FLAT, 3, Metric.L2)
    val e1 = intercept[Exception](idx.insertAll(bad).count)
    assert(e1.getMessage.contains("!= index dim 3") ||
      Option(e1.getCause).exists(_.getMessage.contains("!= index dim 3")))
    val e2 = intercept[Exception](idx.upsertAll(bad).count)
    assert(e2.getMessage.contains("!= index dim 3") ||
      Option(e2.getCause).exists(_.getMessage.contains("!= index dim 3")))
    // well-formed bulk rows still pass the in-plan gate
    val good = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "vectors")
    assert(idx.insertAll(good).count === 1L)
  }

  test("searchBatch: per-query top-k equals looped single search (FLAT and IVF)") {
    val s = spark; import s.implicits._
    val rows = (0 until 200).map(i => (i.toLong, Array(i.toFloat, (i % 7).toFloat), None: Option[String]))
    val queries = Seq((0L, Array(5f, 5f)), (1L, Array(150f, 1f))).toDF("q_id", "q_vec")
    for (kind <- Seq(IndexType.FLAT, IndexType.IVF)) {
      val idx = VectorIndex.create(spark, kind, 2, Metric.L2)
        .insertAll(rows.toDF("id", "vectors", "data"))
      val batch = idx.searchBatch(queries, k = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(batch.count(_._1 == 0L) === 3 && batch.count(_._1 == 1L) === 3)
      // batch must agree with the looped single-query path for BOTH
      // kinds: FLAT trivially; IVF because both probe the same nprobe
      // clusters from the same cached centroids.
      for ((qid, qv) <- Seq((0L, Array(5f, 5f)), (1L, Array(150f, 1f)))) {
        val single = idx.search(qv, 3).collect().map(r => (qid, r.getInt(0), r.getLong(1))).toSet
        assert(batch.filter(_._1 == qid) === single)
      }
    }
  }

  test("searchBatchFiltered: per-query top-k equals looped searchFiltered (FLAT and IVF)") {
    val s = spark; import s.implicits._
    // data json carries the filter field; evens are grp=0, odds grp=1
    val rows = (0 until 200).map(i =>
      (i.toLong, Array(i.toFloat, (i % 7).toFloat), Some(s"""{"grp": ${i % 2}}""")))
    val queries = Seq((0L, Array(5f, 5f)), (1L, Array(150f, 1f))).toDF("q_id", "q_vec")
    for (kind <- Seq(IndexType.FLAT, IndexType.IVF);
         op <- Seq(FilterOp.Equal, FilterOp.NotEqual)) {
      val idx = VectorIndex.create(spark, kind, 2, Metric.L2)
        .insertAll(rows.toDF("id", "vectors", "data"))
      val batch = idx.searchBatchFiltered(queries, k = 3, "grp", op, 0L).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(batch.count(_._1 == 0L) === 3 && batch.count(_._1 == 1L) === 3)
      for ((qid, qv) <- Seq((0L, Array(5f, 5f)), (1L, Array(150f, 1f)))) {
        val single = idx.searchFiltered(qv, 3, "grp", op, 0L).collect()
          .map(r => (qid, r.getInt(0), r.getLong(1))).toSet
        assert(batch.filter(_._1 == qid) === single,
          s"$kind/$op: batch must agree with the looped filtered single-query path")
      }
      // the filter actually bit: every returned id has the right parity
      val wantEven = op == FilterOp.Equal
      assert(batch.forall { case (_, _, id) => (id % 2 == 0) == wantEven })
    }
  }

  test("searchBatchFiltered on a loaded GRAPH index: ONE gated batch walk equals looped searchFiltered (adaptive beam and exact-fallback regimes)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(5)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    // grp 0/1 split evens/odds (sel ≈ 0.5 — the walked regime); grp 7
    // marks 4 rows (sel < 1/64 — the exact-fallback regime)
    val rows = (0 until 320).map { i =>
      val c = centers(i % 5)
      val g = if (i % 80 == 3) 7 else i % 2
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat), Some(s"""{"grp": $g}"""))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-api-gbf").toString
    VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 5, graphK = 5, graphBeam = 6, graphHops = 2))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    val re = VectorIndex.load(spark, dir)
    val qs = Seq(42L, 7L, 130L)
    val queries = qs.map(i => (i, rows(i.toInt)._2.toSeq)).toDF("q_id", "q_vec")
    for ((field, op, v) <- Seq(("grp", FilterOp.Equal, 0L),
                               ("grp", FilterOp.NotEqual, 0L),
                               ("grp", FilterOp.Equal, 7L))) {
      val batch = re.searchBatchFiltered(queries, k = 3, field, op, v).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val looped = qs.flatMap { qi =>
        re.searchFiltered(rows(qi.toInt)._2, 3, field, op, v).collect()
          .map(r => (qi, r.getInt(0), r.getLong(1)))
      }.toSet
      assert(batch === looped,
        s"$op $v: the gated batch walk must agree with looped searchFiltered")
      assert(batch.nonEmpty)
    }
  }

  test("maintained GRAPH artifact stays ROUTED under mutations: every heal re-joins the route table, the walk keeps its pushed route_cell filter after every verb, batch = looped on the routed layout") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    def mk(i: Int): (Long, Array[Float], Option[String]) = {
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat), Some(s"""{"grp": ${i % 2}}"""))
    }
    val rows = (0 until 360).map(mk)
    val dir = java.nio.file.Files.createTempDirectory("graft-api-routedmut").toString
    VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 6, graphK = 5, graphBeam = 8, graphHops = 3))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    // the maintained save persists the route beside the serving layout
    val routeCents = operators.IvfIndex.readCentroids(spark, s"$dir/serve/route")
    assert(routeCents.nonEmpty, "a maintained save must persist the entry route")
    // force the auto-switch ON (E = 6 sits under the default threshold)
    spark.conf.set("spark.graft.graph.routeEntriesThreshold", "0")
    try {
      var idx = VectorIndex.load(spark, dir)
      val q = rows(42)._2

      def liveOf(rel: String) = operators.Tombstones.filterGen(
        operators.Tombstones.readWithGen(spark, s"$dir/$rel"), dir, "id", "gen")

      def assertRouted(tag: String): Unit = {
        // upkeep invariant: every LIVE entry (build or heal) carries the
        // FROZEN route's assignment — no route-less rows ever appear
        val bad = liveOf("serve/entries").where(col("route_cell").isNull ||
            col("route_cell") =!= graft.functions.nearestCentroid(col("vec"), routeCents))
          .count()
        assert(bad === 0L, s"$tag: $bad live entries lost or mis-assigned route_cell")
        // the routed plan survives the verb: hop 0 routes via route_cell
        val plan = idx.search(q, 5).queryExecution.executedPlan.toString
        assert(plan.contains("route_cell"), s"$tag: routed search lost its route")
        // the walk still finds the query's live neighborhood
        val exact = operators.Knn.searchExact(
            liveOf("data").select(col("id"), col("vectors")), "id", "vectors", q, 5, "l2")
          .collect().map(_.getLong(1)).toSet
        val got = idx.search(q, 5).collect().map(_.getLong(1)).toSet
        assert(got.intersect(exact).size >= 3, s"$tag: routed recall collapsed: $got vs $exact")
        // ONE routed batch walk = looped routed singles, filtered too
        val qs = Seq(42L, 7L)
        val queries = qs.map(i => (i, rows(i.toInt)._2.toSeq)).toDF("q_id", "q_vec")
        val batch = idx.searchBatch(queries, k = 3).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val looped = qs.flatMap { qi =>
          idx.search(rows(qi.toInt)._2, 3).collect().map(r => (qi, r.getInt(0), r.getLong(1)))
        }.toSet
        assert(batch === looped, s"$tag: routed batch != looped singles")
        val fbatch = idx.searchBatchFiltered(queries, k = 3, "grp", FilterOp.Equal, 0L)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val flooped = qs.flatMap { qi =>
          idx.searchFiltered(rows(qi.toInt)._2, 3, "grp", FilterOp.Equal, 0L)
            .collect().map(r => (qi, r.getInt(0), r.getLong(1)))
        }.toSet
        assert(fbatch === flooped, s"$tag: routed gated batch != looped searchFiltered")
      }

      assertRouted("loaded")
      // DELETE a standing MEDOID id: its cluster's entry dies and the
      // re-seed heal must append a ROUTED replacement
      val medoid = liveOf("serve/entries").orderBy("id").limit(1)
        .collect().head.getAs[Long]("id")
      idx = idx.delete(medoid)
      assertRouted(s"after delete of medoid $medoid")
      // UPSERT a standing id (replaces its rows at a new generation;
      // entry heal may re-seed its cluster)
      idx = idx.upsertAll(Seq((7L, centers(1).map(_ + 0.5f), Some("""{"grp": 1}""")))
        .toDF("id", "vectors", "data"))
      assertRouted("after upsert")
      // INSERT fresh ids into every cluster
      idx = idx.insertAll((1000 until 1012).map(mk).map { case (i, v, d) => (i + 0L, v, d) }
        .toDF("id", "vectors", "data"))
      assertRouted("after insert")
      // COMPACT folds the sidecar — the rewritten entries keep their
      // route cells and the re-seed stays routed
      idx = idx.compact()
      assertRouted("after compact")
    } finally spark.conf.unset("spark.graft.graph.routeEntriesThreshold")
  }

  test("live-entry auto-switch: the route decision reads the maintained _entrycount manifest (not the build-time routeK² proxy) and flips when mutations shrink the artifact") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    def mk(i: Int): (Long, Array[Float], Option[String]) = {
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat), None: Option[String])
    }
    val rows = (0 until 240).map(mk)
    val dir = java.nio.file.Files.createTempDirectory("graft-api-livee").toString
    VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 6, graphK = 5, graphBeam = 8, graphHops = 2))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    val e0 = operators.GraphAnn.readEntryCount(spark, s"$dir/serve")
      .getOrElse(fail("a maintained save must write the _entrycount manifest"))
    assert(e0 >= 2 && e0 <= 6, s"expected a handful of medoid entries, got $e0")
    var idx = VectorIndex.load(spark, dir)
    val q = rows(10)._2
    // routed hop 0 shows as the pushed route_cell IN filter; the
    // unrouted plan still READS the column, so probe the filter
    def routedPlan(): Boolean =
      idx.search(q, 3).queryExecution.executedPlan.toString.contains("In(route_cell")
    def withThreshold(t: Long)(body: => Unit): Unit = {
      spark.conf.set("spark.graft.graph.routeEntriesThreshold", t.toString)
      try body finally spark.conf.unset("spark.graft.graph.routeEntriesThreshold")
    }
    // threshold = live E: the live count (E0) declines the route while
    // the old routeK² proxy (⌈√E⌉² ≥ E0, strictly above for E0 = 5..6)
    // would have taken it — the manifest IS the decision input
    withThreshold(e0) { assert(!routedPlan(), "switch must read the LIVE entry count") }
    withThreshold(e0 - 1) { assert(routedPlan(), "live E above threshold must route") }
    // empty one cluster through the maintained delete verb: its medoid
    // entry dies with no live rows to re-seed from, the heal updates the
    // manifest, and the SAME threshold now declines the route — the
    // switch flips on a mutated artifact without a re-save
    val victimCluster = operators.Tombstones.filterGen(
        operators.Tombstones.readWithGen(spark, s"$dir/serve/entries"), dir, "id", "gen")
      .orderBy("cluster").limit(1).collect().head.getAs[Int]("cluster")
    val victimIds = operators.Tombstones.filterGen(
        operators.Tombstones.readWithGen(spark, s"$dir/data"), dir, "id", "gen")
      .where(col("cluster") === victimCluster).select("id")
    withThreshold(e0 - 1) {
      idx = idx.deleteAll(victimIds)
      val e1 = operators.GraphAnn.readEntryCount(spark, s"$dir/serve").get
      assert(e1 === e0 - 1,
        s"emptying one cluster must drop the live entry count by exactly one ($e0 -> $e1)")
      assert(!routedPlan(),
        "the mutated artifact's shrunken live count must flip the switch off")
    }
    withThreshold(e0 - 2) { assert(routedPlan(), "still routes below the new live count") }
  }

  test("fresh-state GRAPH above the routed-K threshold refuses loudly (adopt-or-refuse at the quantizer ceiling)") {
    val s = spark; import s.implicits._
    val rows = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(i.toFloat / 7f), None: Option[String]))
    val idx = VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 6, graphK = 3))
      .insertAll(rows.toDF("id", "vectors", "data"))
    val q = Array.fill(8)(1f)
    spark.conf.set("spark.graft.routed.kThreshold", "4")
    try {
      // the in-plan fresh-state path would keep a flat K-proportional
      // literal past the routed ceiling — it must refuse and point at
      // the persisted lifecycle, on the single AND the batch arm
      val ex = intercept[IllegalArgumentException] { idx.search(q, 3) }
      assert(ex.getMessage.contains("save()"), ex.getMessage)
      val ex2 = intercept[IllegalArgumentException] {
        idx.searchBatch(Seq((1L, q.toSeq)).toDF("q_id", "q_vec"), 3)
      }
      assert(ex2.getMessage.contains("routed-K threshold"), ex2.getMessage)
    } finally spark.conf.unset("spark.graft.routed.kThreshold")
    // below the threshold the in-plan fresh-state path serves as before
    assert(idx.search(q, 3).count() === 3L)
  }

  test("maintained GRAPH lifecycle ADOPTS the routed quantizer above the K threshold: save persists the two-level table, every verb assigns against it frozen, searches stay consistent") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{RoutedQuantizer, Tombstones}
    val rnd = new scala.util.Random(37)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    def mk(i: Int): (Long, Array[Float], Option[String]) = {
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat), None: Option[String])
    }
    val rows = (0 until 360).map(mk)
    val dir = java.nio.file.Files.createTempDirectory("graft-api-routedq").toString
    // force the switch below ivfClusters = 6, so the save takes the
    // ROUTED branch exactly as a K = n/100 deployment save would
    spark.conf.set("spark.graft.routed.kThreshold", "4")
    try {
      VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
          IndexParams(ivfClusters = 6, graphK = 5, graphBeam = 8, graphHops = 3))
        .insertAll(rows.toDF("id", "vectors", "data"))
        .save(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/quantizer")),
        "a routed save must persist the two-level quantizer table")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/centroids")),
        "a routed save must not leave a flat-literal artifact behind")
      val rq = RoutedQuantizer.read(spark, s"$dir/quantizer")
      val fineBefore = rq.fine.collect().map(_.toSeq).toSet

      var idx = VectorIndex.load(spark, dir)
      val q = rows(42)._2

      def liveData = Tombstones.filterGen(
        Tombstones.readWithGen(spark, s"$dir/data"), dir, "id", "gen")

      def assertConsistent(tag: String): Unit = {
        // frozen-quantizer invariant: every live data row's persisted
        // cluster is the routed assignment of its own vector
        val bad = rq.assign(
            liveData.select(col("id"), col("vectors"), col("cluster").as("have")),
            "vectors", out = "want")
          .where(col("have") =!= col("want")).count()
        assert(bad === 0L, s"$tag: $bad rows mis-assigned vs the frozen routed quantizer")
        // the walk still finds the live neighborhood
        val exact = operators.Knn.searchExact(
            liveData.select(col("id"), col("vectors")), "id", "vectors", q, 5, "l2")
          .collect().map(_.getLong(1)).toSet
        val got = idx.search(q, 5).collect().map(_.getLong(1)).toSet
        assert(got.intersect(exact).size >= 3, s"$tag: recall collapsed: $got vs $exact")
        // batch walk = looped singles on the routed-quantizer artifact
        val qs = Seq(42L, 7L)
        val queries = qs.map(i => (i, rows(i.toInt)._2.toSeq)).toDF("q_id", "q_vec")
        val batch = idx.searchBatch(queries, k = 3).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val looped = qs.flatMap { qi =>
          idx.search(rows(qi.toInt)._2, 3).collect().map(r => (qi, r.getInt(0), r.getLong(1)))
        }.toSet
        assert(batch === looped, s"$tag: batch != looped")
      }

      assertConsistent("loaded")
      idx = idx.insertAll((500 until 512).map(mk).toDF("id", "vectors", "data"))
      assertConsistent("after insert")
      idx = idx.upsertAll(Seq((7L, centers(2).map(_ + 0.25f), None: Option[String]))
        .toDF("id", "vectors", "data"))
      assertConsistent("after upsert")
      idx = idx.deleteAll(Seq(11L, 17L).toDF("id"))
      assertConsistent("after delete")
      idx = idx.compact()
      assertConsistent("after compact")
      // the quantizer stayed FROZEN through the whole storm
      assert(RoutedQuantizer.read(spark, s"$dir/quantizer").fine.collect()
        .map(_.toSeq).toSet === fineBefore,
        "mutations must never refit or rewrite the persisted quantizer")
      // ...and a reload serves the same answers as the mutated handle
      val re = VectorIndex.load(spark, dir)
      assert(re.search(q, 5).collect().map(_.toSeq).toSeq
        === idx.search(q, 5).collect().map(_.toSeq).toSeq)
    } finally spark.conf.unset("spark.graft.routed.kThreshold")
  }

  test("GRAPH index: fresh search works, save -> load walks the layout identically, delete filters it") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    val rows = (0 until 300).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat), None: Option[String])
    }
    val idx = VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 6, graphK = 5, graphBeam = 12, graphHops = 3))
      .insertAll(rows.toDF("id", "vectors", "data"))
    val q = rows(42)._2
    val live = idx.search(q, 5).collect().map(_.toSeq).toSeq
    assert(live.size === 5)
    assert(live.head(1) === 42L, "a wide-beam walk finds the query's own vector")

    // save -> load: the loaded index walks the PERSISTED serving layout
    // over the same fitCached graph, so results are identical
    val dir = java.nio.file.Files.createTempDirectory("graft-api-graph").toString
    idx.save(dir)
    val re = VectorIndex.load(spark, dir)
    assert(re.key.indexType === IndexType.GRAPH)
    assert(re.params.graphK === 5 && re.params.graphBeam === 12)
    assert(re.search(q, 5).collect().map(_.toSeq).toSeq === live)
    // the loaded walk reads the serving artifact, never the data table
    val loadedPlan = re.search(q, 5).queryExecution.executedPlan.toString
    assert(loadedPlan.contains("/serve/"), "loaded search must walk the persisted layout")
    assert(!loadedPlan.contains("/data"), "loaded search must not touch the raw state")

    // batch agrees with the looped single-query path on the loaded index
    val queries = Seq((42L, rows(42)._2.toSeq), (7L, rows(7)._2.toSeq)).toDF("q_id", "q_vec")
    val batch = re.searchBatch(queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val looped = Seq(42L, 7L).flatMap { qi =>
      re.search(rows(qi.toInt)._2, 5).collect().map(r => (qi, r.getInt(0), r.getLong(1)))
    }.toSet
    assert(batch === looped)

    // a delete must vanish from the very next search even though the
    // persisted layout physically still contains the row
    val deleted = re.delete(42L)
    val after = deleted.search(q, 5).collect().map(_.getLong(1))
    assert(!after.contains(42L), "a deleted id must not be served from the stale layout")
  }

  test("path-backed GRAPH mutations maintain the serving layout: no refit, no rebuild, never stale, reload-consistent") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(5)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    def mk(i: Int): (Long, Array[Float], Option[String]) =
      (i.toLong, centers(i % 5).map(x => x + rnd.nextGaussian().toFloat), None: Option[String])
    val rows = (0 until 250).map(mk)
    val dir = java.nio.file.Files.createTempDirectory("graft-api-graph-maint").toString
    VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 5, graphK = 5, graphBeam = 12, graphHops = 3))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    val re = VectorIndex.load(spark, dir)

    // INSERT: routes through the serving append twin — search finds the
    // new node, and the plan walks ONLY the persisted layout (no data
    // scan anywhere ⇒ no k-means refit, no k-NN graph rebuild)
    val freshRows = (500 until 520).map(mk)
    val ingested = re.insertAll(freshRows.toDF("id", "vectors", "data"))
    val q500 = freshRows.head._2
    val hits = ingested.search(q500, 3)
    val planAfterInsert = hits.queryExecution.executedPlan.toString
    assert(planAfterInsert.contains("/serve/"),
      "post-insert search must still walk the persisted serving layout")
    assert(!planAfterInsert.contains("/data"),
      "post-insert search must not touch the data table (that would mean a rebuild)")
    assert(hits.collect().map(_.getLong(1)).contains(500L),
      "an ingested node must be reachable through the maintained serving edges")
    assert(ingested.count === 270L)

    // DELETE: rides the root tombstone sidecar — still walking serve/,
    // the deleted id gone both as an answer and as a routing neighbor
    val q42 = rows(42)._2
    assert(ingested.search(q42, 5).collect().map(_.getLong(1)).contains(42L))
    val afterDel = ingested.delete(42L)
    val delHits = afterDel.search(q42, 5)
    val planAfterDelete = delHits.queryExecution.executedPlan.toString
    assert(planAfterDelete.contains("/serve/") && !planAfterDelete.contains("/data"),
      "post-delete search must still walk the persisted serving layout")
    assert(!delHits.collect().map(_.getLong(1)).contains(42L),
      "a deleted id must never be served")
    assert(afterDel.count === 269L)
    assert(afterDel.query(42L).count() === 0L)

    // RELOAD: the artifact itself was maintained, so a fresh load agrees
    // with the mutated handle — inserted id present, deleted id absent
    val re2 = VectorIndex.load(spark, dir)
    assert(re2.count === 269L)
    assert(re2.search(q500, 3).collect().map(_.getLong(1)).contains(500L))
    assert(!re2.search(q42, 5).collect().map(_.getLong(1)).contains(42L))

    // deleted-id reuse is LEGAL: the delete's tombstone is generation-
    // scoped (upto = the generation at delete time), so the re-insert's
    // rows carry a higher generation and outlive it — no compact needed
    val reused = re2.insert(42L, rows(42)._2)
    assert(reused.search(q42, 5).collect().map(_.getLong(1)).contains(42L),
      "a re-inserted deleted id must be served again")
    assert(reused.count === 270L)
    // standing-id re-INSERT still fails loudly (new-nodes-only — upsert
    // is the verb for that)
    val dupIns = intercept[IllegalArgumentException] {
      reused.insert(500L, freshRows.head._2)
    }
    assert(dupIns.getMessage.contains("new-nodes-only"), dupIns.getMessage)

    // UPSERT of all-new ids is an insert (layout maintained)
    val upNew = reused.upsert(600L, mk(600)._2)
    val upNewPlan = upNew.search(mk(600)._2, 3).queryExecution.executedPlan.toString
    assert(upNewPlan.contains("/serve/") && !upNewPlan.contains("/data"))
    assert(upNew.count === 271L)
  }

  test("path-backed GRAPH mutation storm: any interleaving of insert/upsert/delete converges to the merged truth") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val centers = Array.fill(4)(Array.fill(6)(rnd.nextGaussian().toFloat * 8))
    def vec(): Array[Float] = {
      val c = centers(rnd.nextInt(4)); c.map(x => x + rnd.nextGaussian().toFloat)
    }
    val model = scala.collection.mutable.Map[Long, Array[Float]]()
    (0 until 100).foreach(i => model(i.toLong) = vec())
    var nextId = 100L
    val dir = java.nio.file.Files.createTempDirectory("graft-api-graph-storm").toString
    VectorIndex.create(spark, IndexType.GRAPH, 6, Metric.L2,
        IndexParams(ivfClusters = 4, graphK = 5, graphBeam = 16, graphHops = 3))
      .insertAll(model.toSeq.map { case (id, v) => (id, v, None: Option[String]) }
        .toDF("id", "vectors", "data"))
      .save(dir)
    var idx = VectorIndex.load(spark, dir)
    val fitsBefore = graft.operators.IvfIndex.fitRuns.get()

    def batchDf(rows: Seq[(Long, Array[Float])]) =
      rows.map { case (id, v) => (id, v, None: Option[String]) }.toDF("id", "vectors", "data")

    for (step <- 1 to 10) {
      rnd.nextInt(3) match {
        case 0 => // insert brand-new ids
          val fresh = (0 until 1 + rnd.nextInt(4)).map { _ =>
            val id = nextId; nextId += 1; id -> vec()
          }
          fresh.foreach { case (id, v) => model(id) = v }
          idx = idx.insertAll(batchDf(fresh))
        case 1 => // upsert: perturb existing ids, mix in a new one
          val existing = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(3))
            .map(id => id -> vec())
          val fresh = { val id = nextId; nextId += 1; Seq(id -> vec()) }
          (existing ++ fresh).foreach { case (id, v) => model(id) = v }
          idx = idx.upsertAll(batchDf(existing ++ fresh))
        case 2 => // delete existing ids (model may have shrunk — guard)
          val victims = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(3))
          victims.foreach(model.remove)
          idx = idx.deleteAll(victims.toDF("id"))
      }
      assert(idx.count === model.size.toLong, s"step $step: live cardinality diverged")
    }

    // the storm never refit the quantizer (every verb is maintained)
    assert(graft.operators.IvfIndex.fitRuns.get() === fitsBefore,
      "no mutation in the storm may trigger a k-means fit")
    // point lookups agree with the model (latest write wins everywhere)
    val sample = rnd.shuffle(model.toSeq).take(8)
    for ((id, v) <- sample) {
      val got = idx.query(id).collect()
      assert(got.length === 1, s"id $id must have exactly one live row")
      assert(got.head.getSeq[Float](1).toArray.toSeq === v.toSeq,
        s"id $id must serve its LATEST vector")
    }
    // searches are CORRECT under churn: every served id is live and its
    // distance is the true distance to its LATEST vector (never dead,
    // never stale). Perfect self-recall is deliberately NOT asserted:
    // cascading upserts can orphan a node (its edges die when the
    // neighbors they referenced are later superseded) — the same
    // attrition HNSW's remove+reinsert suffers; the single-upsert test
    // above asserts reachability in the non-cascading case.
    def l2d(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    for ((_, v) <- sample.take(4)) {
      val hits = idx.search(v, 3).collect()
      assert(hits.nonEmpty, "the walk must keep serving under churn")
      hits.foreach { h =>
        val id = h.getLong(1)
        assert(model.contains(id), s"served id $id must be live")
        assert(math.abs(h.getDouble(2) - l2d(v, model(id))) < 1e-3,
          s"id $id must be scored against its LATEST vector")
      }
    }
    // the artifact itself holds the merged truth: a fresh load agrees
    val re = VectorIndex.load(spark, dir)
    assert(re.count === model.size.toLong)
    for ((id, v) <- sample.take(3))
      assert(re.query(id).collect().head.getSeq[Float](1).toArray.toSeq === v.toSeq)
  }

  test("path-backed GRAPH all-new upsert materializes no tombstone sidecar") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(29)
    val rows = (0 until 60).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat), None: Option[String]))
    val dir = java.nio.file.Files.createTempDirectory("graft-api-graph-nosc").toString
    VectorIndex.create(spark, IndexType.GRAPH, 4, Metric.L2,
        IndexParams(ivfClusters = 4, graphK = 3))
      .insertAll(rows.toDF("id", "vectors", "data")).save(dir)
    val re = VectorIndex.load(spark, dir)
    val up = re.upsertAll(Seq(
      (900L, Array.fill(4)(1f).toSeq, None: Option[String]),
      (901L, Array.fill(4)(-1f).toSeq, None: Option[String])).toDF("id", "vectors", "data"))
    assert(!graft.operators.Tombstones.present(spark, dir),
      "an all-new upsert must not put a tombstone join into every future read")
    assert(up.count === 62L)
    assert(up.search(Array.fill(4)(1f), 2).collect().map(_.getLong(1)).contains(900L))
  }

  test("path-backed GRAPH in-place upsert maintains the serving layout: no k-means fit, no rebuild, never stale") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(5)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    def mk(i: Int): (Long, Array[Float], Option[String]) =
      (i.toLong, centers(i % 5).map(x => x + rnd.nextGaussian().toFloat), None: Option[String])
    val rows = (0 until 250).map(mk)
    val dir = java.nio.file.Files.createTempDirectory("graft-api-graph-upsert").toString
    VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 5, graphK = 5, graphBeam = 12, graphHops = 3))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    val re = VectorIndex.load(spark, dir)

    def edgeFiles(): Set[String] = {
      val d = new java.io.File(s"$dir/serve/edges")
      d.listFiles().filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val filesBefore = edgeFiles()
    val fitsBefore = graft.operators.IvfIndex.fitRuns.get()

    // in-place change: id 7 moves far away from its old position
    val moved = rows(7)._2.map(_ + 6f)
    val up = re.upsert(7L, moved)
    val hits = up.search(moved, 5)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("/serve/") && !plan.contains("/data"),
      "post-upsert search must still walk the persisted serving layout")
    val got = hits.collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).contains(7L),
      "the upserted id must be reachable through the maintained serving edges")
    // never stale: served at the NEW vector's distance (we query the
    // new vector itself, so its distance is 0), and the OLD position
    // no longer serves id 7
    assert(math.abs(got.find(_._1 == 7L).get._2) < 1e-3,
      s"id 7 must be served at its new vector, got $got")
    assert(!up.search(rows(7)._2, 3).collect().map(_.getLong(1)).contains(7L),
      "the superseded vector must never be served")
    assert(up.count === 250L, "an upsert replaces, never duplicates")
    assert(up.query(7L).collect().head.getSeq[Float](1).toArray === moved)

    // NO k-means fit job ran, and NO rebuild happened (the build's edge
    // files survive untouched — maintenance is append-only)
    assert(graft.operators.IvfIndex.fitRuns.get() === fitsBefore,
      "an in-place upsert must not refit the coarse quantizer")
    assert(filesBefore.subsetOf(edgeFiles()),
      "an in-place upsert must append serving edges, not rewrite them")

    // the artifact itself was maintained: a fresh load agrees
    val re2 = VectorIndex.load(spark, dir)
    assert(re2.count === 250L)
    val reHits = re2.search(moved, 5).collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(reHits.toSeq === got.toSeq, "reload must serve exactly the mutated handle's answers")

    // batch upsert mixing new + changed ids in one call
    val mixMoved = rows(11)._2.map(_ - 6f)
    val v700 = mk(700)._2
    val mixed = up.upsertAll(Seq(
      (700L, v700.toSeq, None: Option[String]),
      (11L, mixMoved.toSeq, None: Option[String])).toDF("id", "vectors", "data"))
    assert(mixed.count === 251L)
    assert(mixed.search(mixMoved, 3).collect().map(_.getLong(1)).contains(11L))
    assert(mixed.search(v700, 3).collect().map(_.getLong(1)).contains(700L))
    assert(!mixed.search(rows(11)._2, 3).collect().map(_.getLong(1)).contains(11L))
    val mixedPlan = mixed.search(mixMoved, 3).queryExecution.executedPlan.toString
    assert(mixedPlan.contains("/serve/") && !mixedPlan.contains("/data"))
    assert(graft.operators.IvfIndex.fitRuns.get() === fitsBefore)

    // search ≡ fresh-build: a scratch index over the SAME merged rows
    // (insert order irrelevant — the build fits and blocks on the final
    // state) must answer the moved queries identically to the
    // maintained artifact
    val mergedRows = rows.filterNot(r => r._1 == 7L || r._1 == 11L) ++
      Seq((7L, moved, None: Option[String]), (11L, mixMoved, None),
        (700L, v700, None))
    val fresh = VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
        IndexParams(ivfClusters = 5, graphK = 5, graphBeam = 12, graphHops = 3))
      .insertAll(mergedRows.toDF("id", "vectors", "data"))
    for (q <- Seq(moved, mixMoved)) {
      val a = mixed.search(q, 5).collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      val b = fresh.search(q, 5).collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      assert(a.toSeq === b.toSeq,
        "the maintained layout must answer like a from-scratch build")
    }
  }

  test("knnGraph: FLAT graph equals brute force; self excluded") {
    val s = spark; import s.implicits._
    val vecs = (0 until 40).map(i => (i.toLong, Array((i % 8).toFloat, (i / 8).toFloat), None: Option[String]))
    val idx = VectorIndex.create(spark, IndexType.FLAT, 2, Metric.L2)
      .insertAll(vecs.toDF("id", "vectors", "data"))
    val got = idx.knnGraph(2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def l2(a: Array[Float], b: Array[Float]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    val expected = (for {
      (qi, qv, _) <- vecs
      ranked = vecs.filter(_._1 != qi)
        .map { case (ni, nv, _) => (l2(qv, nv), ni) }.sorted.take(2)
      ((_, ni), pos) <- ranked.zipWithIndex
    } yield (qi, pos + 1, ni)).toSet
    assert(got === expected)
  }

  test("search on an empty IVF index returns empty instead of throwing") {
    val idx = VectorIndex.create(spark, IndexType.IVF, 2, Metric.L2)
    assert(idx.search(Array(1f, 0f), 3).count() === 0L)
  }

  test("invalid requests are rejected (BAD_REQUEST analogs)") {
    val idx = VectorIndex.create(spark, IndexType.FLAT, 3, Metric.L2)
    intercept[IllegalArgumentException](VectorIndex.create(spark, IndexType.FLAT, 0, Metric.L2))
    intercept[IllegalArgumentException](idx.insert(1L, Array(1f, 2f))) // dim mismatch
    intercept[IllegalArgumentException](idx.search(Array.empty[Float], 1)) // empty vector
    intercept[IllegalArgumentException](idx.search(Array(1f, 2f, 3f), 0)) // bad k
    intercept[IllegalArgumentException]( // PQ dim must split into subspaces
      VectorIndex.create(spark, IndexType.PQ, 5, Metric.L2, IndexParams(pqSubspaces = 8)))
    intercept[IllegalArgumentException]( // ... and so must IVFPQ
      VectorIndex.create(spark, IndexType.IVFPQ, 5, Metric.L2, IndexParams(pqSubspaces = 8)))
  }

  test("IVFPQ and SQ8 facades: metric applies in the exact re-rank (rerank >= n equals FLAT)") {
    def fill(i0: VectorIndex): VectorIndex = {
      val rnd = new scala.util.Random(13)
      (0L until 40L).foldLeft(i0)((ix, i) =>
        ix.insert(i, Array.fill(4)(rnd.nextGaussian().toFloat)))
    }
    val flat = fill(VectorIndex.create(spark, IndexType.FLAT, 4, Metric.Cosine))
    // nprobe = K probes every cluster; rerank ≥ n keeps every candidate
    val ivfpq = fill(VectorIndex.create(spark, IndexType.IVFPQ, 4, Metric.Cosine,
      IndexParams(ivfClusters = 2, nprobe = 2, pqSubspaces = 2, pqRerank = 1000)))
    val sq = fill(VectorIndex.create(spark, IndexType.SQ8, 4, Metric.Cosine,
      IndexParams(sqRerank = 1000)))
    val q = Array(0.5f, -0.25f, 1f, 0.125f)
    val expected = flat.search(q, 5).collect().map(_.toSeq).toSeq
    assert(ivfpq.search(q, 5).collect().map(_.toSeq).toSeq === expected)
    assert(sq.search(q, 5).collect().map(_.toSeq).toSeq === expected)
  }

  test("PQ facade: cosine metric applies in the exact re-rank (rerank >= n equals FLAT)") {
    def fill(i0: VectorIndex): VectorIndex = {
      val rnd = new scala.util.Random(11)
      (0L until 40L).foldLeft(i0)((ix, i) =>
        ix.insert(i, Array.fill(4)(rnd.nextGaussian().toFloat)))
    }
    val pq = fill(VectorIndex.create(spark, IndexType.PQ, 4, Metric.Cosine,
      IndexParams(pqSubspaces = 2, pqRerank = 1000)))
    val flat = fill(VectorIndex.create(spark, IndexType.FLAT, 4, Metric.Cosine))
    val q = Array(0.5f, -0.25f, 1f, 0.125f)
    assert(pq.search(q, 5).collect().map(_.toSeq).toSeq
      === flat.search(q, 5).collect().map(_.toSeq).toSeq)
  }

  test("inner-product and cosine metrics rank by similarity descending") {
    val ip = VectorIndex.create(spark, IndexType.IVF, 2, Metric.InnerProduct)
      .insert(1L, Array(1f, 0f)).insert(2L, Array(10f, 0f)).insert(3L, Array(0f, 1f))
      .search(Array(1f, 0f), 1).collect() // IVF clamps k-means k to row count
    assert(ip(0).getLong(1) === 2L) // largest inner product wins
    val cos = VectorIndex.create(spark, IndexType.FLAT, 2, Metric.Cosine)
      .insert(1L, Array(1f, 1f)).insert(2L, Array(-1f, 1f))
      .search(Array(1f, 1f), 2).collect()
    assert(cos(0).getLong(1) === 1L)
    assert(cos(0).getDouble(2) === 1.0) // cosine similarity, not distance
  }

  test("searchDiverse: MMR defers the near-duplicate a plain top-k returns") {
    val s = spark; import s.implicits._
    // id 0/1 = twins near the query axis; id 2 = relevant + rotated out
    // of their plane; id 3 = anti-query filler
    val rows = Seq(
      (0L, Array(0.99f, 0.14f, 0.0f), None: Option[String]),
      (1L, Array(0.99f, 0.14f, 0.0f), None),
      (2L, Array(0.9f, 0.0f, 0.435f), None),
      (3L, Array(-0.5f, 0.86f, 0.0f), None))
    val idx = VectorIndex.create(spark, IndexType.FLAT, 3, Metric.Cosine)
      .insertAll(rows.toDF("id", "vectors", "data"))
    val queries = Seq((9L, Array(1f, 0f, 0f))).toDF("q_id", "q_vec")
    // plain batch top-2 = both twins
    val plain = idx.searchBatch(queries, k = 2).collect().map(_.getLong(2)).toSet
    assert(plain === Set(0L, 1L))
    // diversified top-2 (λ = 0.5) = one twin + the rotated vector
    val div = idx.searchDiverse(queries, k = 2, fetchK = 4, lambda10 = 5)
      .orderBy("pick").collect()
    assert(div.map(_.getLong(2)).toSeq === Seq(0L, 2L))
    // picks cover k and stay within the fetched candidate set
    assert(div.map(_.getInt(1)).toSeq === Seq(1, 2))
  }

  test("TextIndex: build -> search equals scratch BM25; load + append serve post-ingest") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark spark spark nothing else about spark"),
      (3L, "gardening tips for growing tomatoes"),
      (4L, "spark joins need a shuffle unless broadcast")).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-textindex").toString

    val idx = TextIndex.build(docs.where($"doc_id" <= 3), "doc_id", "text", path)
    assert(idx.count === 3L)
    val scratch = graft.operators.Retrieval.bm25TopK(docs.where($"doc_id" <= 3),
      "doc_id", "text", Seq("spark", "cluster"), k = 3).collect().map(_.toSeq).toSeq
    assert(idx.search(Seq("spark", "cluster"), 3).collect().map(_.toSeq).toSeq === scratch)

    // restart: load serves without rebuild; append ingests doc 4 and
    // the maintained index equals a full rebuild
    val re = TextIndex.load(spark, path).append(docs.where($"doc_id" === 4), "doc_id", "text")
    assert(re.count === 4L)
    val rebuilt = graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "broadcast"), k = 4).collect().map(_.toSeq).toSeq
    assert(re.search(Seq("spark", "broadcast"), 4).collect().map(_.toSeq).toSeq === rebuilt)

    // batch path: doc-as-query with leave-self-out returns no self hits
    val qt = Seq((1L, "spark"), (1L, "cluster")).toDF("q_id", "term")
    val b = re.searchBatch(qt, k = 3, excludeQueryDoc = true).collect()
    assert(b.nonEmpty && b.forall(_.getAs[Long]("doc_id") != 1L))
  }

  test("PQ batch search: rerank ≥ n equals the FLAT batch answer (degenerate exactness)") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vectors"),
        lit(null).cast("string").as("data"))
    val queries = graft.sources.Tables.embeddings(spark, sf001)
      .where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val flat = VectorIndex.create(spark, IndexType.FLAT, 64, Metric.L2)
      .insertAll(emb).searchBatch(queries, 5)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    // every coarse candidate survives at rerank = n ⇒ the exact re-rank
    // IS brute force, so each quantized batch kernel must reproduce
    // FLAT exactly — the degenerate-exactness contract, batched
    for ((it, ps) <- Seq(
        IndexType.PQ -> IndexParams(pqRerank = 500),
        IndexType.BINARY -> IndexParams(binaryRerank = 500),
        IndexType.SQ8 -> IndexParams(sqRerank = 500))) {
      val got = VectorIndex.create(spark, it, 64, Metric.L2, ps)
        .insertAll(emb).searchBatch(queries, 5)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(got === flat, s"$it batch at rerank >= n must equal FLAT batch")
    }
  }

  test("TextIndex: metadata columns ride the index; filtered search ≡ filtered-corpus build") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "spark shuffles data across the cluster", "en"),
      (2L, "spark spark spark nothing else about spark", "de"),
      (3L, "gardening tips for growing tomatoes", "en"),
      (4L, "spark joins need a shuffle unless broadcast", "en"),
      (5L, "der spark cluster broadcast text", "de")).toDF("doc_id", "text", "lang")
    val path = java.nio.file.Files.createTempDirectory("graft-textindex-meta").toString

    // build with lang as a filter column; a LOADED index rediscovers it
    TextIndex.build(docs.where($"doc_id" <= 4), "doc_id", "text", path, "lang")
    val idx = TextIndex.load(spark, path)
    assert(idx.metaColumns === Seq("lang"))

    // filtered search ≡ building an index on the filtered corpus
    val expected = graft.operators.Retrieval.bm25TopK(
      docs.where($"doc_id" <= 4 && $"lang" === "en"),
      "doc_id", "text", Seq("spark", "cluster"), k = 4).collect().map(_.toSeq).toSeq
    val got = idx.searchFiltered(Seq("spark", "cluster"), 4, $"lang" === "en")
      .collect().map(_.toSeq).toSeq
    assert(got === expected)
    assert(got.forall(r => Seq(1L, 3L, 4L).contains(r(1).asInstanceOf[Long])))

    // append carries the index's meta columns: filtered search stays
    // total over ingested docs (doc 5 is de — filtered out; the en
    // stats must still see the right N)
    idx.append(docs.where($"doc_id" === 5), "doc_id", "text")
    val afterAppend = idx.searchFiltered(Seq("spark", "cluster"), 4, $"lang" === "en")
      .collect().map(_.toSeq).toSeq
    assert(afterAppend === expected, "an appended de doc must not disturb the en ranking")
    val deLeg = idx.searchFiltered(Seq("spark", "broadcast"), 4, $"lang" === "de")
      .collect().map(r => r(1).asInstanceOf[Long]).toSet
    assert(deLeg === Set(2L, 5L), "the appended doc must be findable under its own filter")
  }

  // ------------------------------------------------------------------
  // Crash-injection matrix for the maintained-GRAPH mutation protocol
  // (GraphMaintenance): kill between each pair of steps, reload —
  // every id serves exactly its latest vector or its pre-batch vector,
  // never neither, and a later verb converges to the latest state.
  // ------------------------------------------------------------------

  private def crashFixture(tag: String): (String, IndexedSeq[(Long, Array[Float], Option[String])], Array[Array[Float]]) = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(tag.hashCode)
    val centers = Array.fill(3)(Array.fill(4)(rnd.nextGaussian().toFloat * 10))
    val rows = (0 until 60).map(i =>
      (i.toLong, centers(i % 3).map(x => x + rnd.nextGaussian().toFloat),
        None: Option[String]))
    val dir = java.nio.file.Files.createTempDirectory(s"graft-crash-$tag").toString
    VectorIndex.create(spark, IndexType.GRAPH, 4, Metric.L2,
        IndexParams(ivfClusters = 3, graphK = 4, graphBeam = 8, graphHops = 3))
      // coalesce(1): the save's KMeans fit samples per partition, so the
      // fitted quantizer — and with it this tiny degree-4 graph's recall
      // — would otherwise depend on the session's core count (the
      // local[4]→local[8] move flipped window 0's reachability assert);
      // one partition pins the fit for any master
      .insertAll(rows.toDF("id", "vectors", "data").coalesce(1))
      .save(dir)
    val cents = graft.operators.IvfIndex.readCentroids(spark, s"$dir/centroids")
    (dir, rows, cents)
  }

  test("loaded GRAPH searchFiltered is a walk-time gate: no refit, no rebuild, every hit satisfies the filter") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(4)(Array.fill(6)(rnd.nextGaussian().toFloat * 10))
    val rows = (0 until 200).map { i =>
      (i.toLong, centers(i % 4).map(x => x + rnd.nextGaussian().toFloat),
        Some(s"""{"cat": ${i % 3}}"""): Option[String])
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-api-gated").toString
    VectorIndex.create(spark, IndexType.GRAPH, 6, Metric.L2,
        IndexParams(ivfClusters = 4, graphK = 8, graphBeam = 8, graphHops = 3))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    val re = VectorIndex.load(spark, dir)
    val fitsBefore = graft.operators.IvfIndex.fitRuns.get()
    val q = rows(5)._2
    val hits = re.searchFiltered(q, 5, "cat", FilterOp.Equal, 1L)
    val got = hits.collect()
    // the reference's filter contract: every hit satisfies the predicate
    assert(got.nonEmpty && got.forall(r => r.getLong(1) % 3 == 1),
      s"every served id must satisfy cat=1: ${got.map(_.getLong(1)).toSeq}")
    // ad-hoc predicate on a loaded index: NO quantizer fit, NO graph
    // build — the walk reads the standing serving layout
    assert(graft.operators.IvfIndex.fitRuns.get() === fitsBefore,
      "a walk-time filtered search must not refit the quantizer")
    assert(hits.queryExecution.executedPlan.toString.contains("/serve/"),
      "the gated walk must read the standing serving layout")
    // NotEqual composes the same way
    val ne = re.searchFiltered(q, 5, "cat", FilterOp.NotEqual, 2L).collect()
    assert(ne.nonEmpty && ne.forall(r => r.getLong(1) % 3 != 2))
    // the gate never relaxes exactness of what it returns: distances
    // are true distances (self-query at cat-matching id -> dist 0)
    val self = rows(7) // id 7: cat = 1
    val sh = re.searchFiltered(self._2, 3, "cat", FilterOp.Equal, 1L).collect()
    assert(sh.head.getLong(1) === 7L && math.abs(sh.head.getDouble(2)) < 1e-3)
  }

  test("adaptive walk-time filter compensation: recall >= the fixed x4 beam at every selectivity; sub-floor predicates fall back to the exact (lossless) scan") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(43)
    val centers = Array.fill(4)(Array.fill(6)(rnd.nextGaussian().toFloat * 10))
    val rows = (0 until 300).map { i =>
      // lab: sel 0.1 (Equal) / 0.9 (NotEqual); par: sel 0.5 (Equal);
      // rare: sel 2/300 — below the 1/64 compensation floor. Labels are
      // taken from i/4 so they are INDEPENDENT of the cluster index
      // (i % 4) — a predicate aligned with the geometry (one cluster
      // all-failing) starves ANY gated walk and measures the corpus,
      // not the compensation.
      (i.toLong, centers(i % 4).map(x => x + rnd.nextGaussian().toFloat),
        Some(s"""{"lab": ${(i / 4) % 10}, "par": ${(i / 4) % 2}, "rare": ${if (i < 2) 1 else 0}}"""): Option[String])
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-api-adaptive").toString
    VectorIndex.create(spark, IndexType.GRAPH, 6, Metric.L2,
        IndexParams(ivfClusters = 4, graphK = 8, graphBeam = 8, graphHops = 2))
      .insertAll(rows.toDF("id", "vectors", "data"))
      .save(dir)
    val re = VectorIndex.load(spark, dir)
    val entries = spark.read.parquet(s"$dir/serve/entries").select(col("id"), col("vec"))
    val edges = spark.read.parquet(s"$dir/serve/edges")
      .select(col("src_id"), col("dst_id"), col("dst_vec"))
    val q = rows(11)._2

    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum)
    def exactTop(pass: Long => Boolean): Set[Long] =
      rows.filter(r => pass(r._1)).map(r => (l2(q, r._2), r._1))
        .sortBy(identity).take(5).map(_._2).toSet
    def recall(got: Set[Long], want: Set[Long]): Double =
      if (want.isEmpty) 1.0 else got.intersect(want).size.toDouble / want.size

    // the three filtered_ann_graph_walk selectivity regimes
    val cases = Seq(
      ("lab", FilterOp.Equal, 2L, (id: Long) => (id / 4) % 10 == 2),   // sel 0.1
      ("par", FilterOp.Equal, 0L, (id: Long) => (id / 4) % 2 == 0),    // sel 0.5
      ("lab", FilterOp.NotEqual, 2L, (id: Long) => (id / 4) % 10 != 2)) // sel 0.9
    cases.foreach { case (field, op, v, passFn) =>
      val want = exactTop(passFn)
      val adaptive = re.searchFiltered(q, 5, field, op, v)
        .collect().map(_.getLong(1)).toSet
      val passDf = rows.filter(r => passFn(r._1)).map(_._1).toDF("id")
      val fixed4 = graft.operators.GraphAnn.searchBeamGated(entries, edges, q, 5,
        beam = 8 * 4, hops = 2, metric = "l2", passIds = passDf)
        .collect().map(_.getLong(1)).toSet
      assert(recall(adaptive, want) >= recall(fixed4, want),
        s"$field $op $v: adaptive ${recall(adaptive, want)} < fixed-x4 ${recall(fixed4, want)}")
      assert(adaptive.forall(passFn), s"$field $op $v: a served id fails the predicate")
    }

    // sub-floor selectivity (2/300 < 1/64): the facade must serve the
    // EXACT filtered answer (lossless fallback), not a starved gate
    val rareGot = re.searchFiltered(q, 2, "rare", FilterOp.Equal, 1L)
      .collect().map(_.getLong(1)).toSet
    assert(rareGot === exactTop(id => id < 2).take(2),
      s"sub-floor predicate must fall back to the exact scan, got $rareGot")
  }

  test("crash-injection: every kill window of an in-place upsert reloads to latest-or-pre-batch, never neither") {
    import graft.operators.{GraphMaintenance, IvfIndex, Tombstones}
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val victim = 7L

    // window -> how far the crashed upsert got before dying
    // W0: gen advanced only; W1: + marker; W2: + data batch at gen g;
    // W3: + serving edges; W4: everything, marker clear lost
    for (w <- 0 to 4) {
      val (dir, rows, cents) = crashFixture(s"w$w")
      val pre = rows(victim.toInt)._2
      val moved = pre.map(_ + 9f)
      val batch = Seq((victim, moved.toSeq, None: Option[String]))
        .toDF("id", "vectors", "data")
        .select(col("id").cast("long"), col("vectors").cast("array<float>"),
          col("data").cast("string"))
      if (w == 4) {
        // a REAL upsert ran to completion; only the marker clear is lost
        VectorIndex.load(spark, dir).upsert(victim, moved)
        GraphMaintenance.writeMarker(spark, dir, "upsert",
          Tombstones.currentGen(spark, dir))
      } else {
        val g = Tombstones.nextGen(spark, dir)
        if (w >= 1) GraphMaintenance.writeMarker(spark, dir, "upsert", g)
        if (w >= 2) IvfIndex.appendPartitioned(
          batch.withColumn("gen", lit(g)), "vectors", cents, s"$dir/data")
        if (w >= 3) GraphMaintenance.appendServeEdges(spark, dir,
          Tombstones.readWithGen(spark, s"$dir/data").where(col("gen") === g),
          4, "l2", g)
      }

      // reload — the recovery path must neither throw nor lose the id
      val re = VectorIndex.load(spark, dir)
      assert(GraphMaintenance.inflight(spark, dir).isEmpty,
        s"window $w: load must settle the in-flight marker")
      val got = re.query(victim).collect()
      assert(got.length === 1,
        s"window $w: id must serve exactly one row, got ${got.length}")
      val served = got.head.getSeq[Float](1).toArray.toSeq
      val expectLatest = w >= 2 // the data batch is the point of no-loss
      assert(served === (if (expectLatest) moved.toSeq else pre.toSeq),
        s"window $w: id must serve its ${if (expectLatest) "latest" else "pre-batch"} vector")
      assert(re.count === 60L, s"window $w: cardinality must be stable")
      // never stale: whichever vector serves, search scores IT
      val hits = re.search(served.toArray, 3).collect()
      assert(hits.map(_.getLong(1)).contains(victim)
          && math.abs(hits.find(_.getLong(1) == victim).get.getDouble(2)) < 1e-3,
        s"window $w: the surviving vector must be reachable at distance 0")
      if (expectLatest)
        assert(!re.search(pre, 3).collect().map(_.getLong(1)).contains(victim),
          s"window $w: the superseded vector must never be served")

      // the redo path composes: a real upsert after recovery wins
      val finalV = pre.map(_ - 9f)
      val after = re.upsert(victim, finalV)
      assert(after.query(victim).collect().head.getSeq[Float](1).toArray.toSeq
          === finalV.toSeq, s"window $w: post-recovery upsert must take effect")
      assert(after.count === 60L)
    }
  }

  test("crash-injection: a crashed delete's marker is settled at reload; tombstone landing is all-or-nothing") {
    import graft.operators.{GraphMaintenance, Tombstones}
    val s = spark; import s.implicits._
    // window A: marker written, tombstone append lost — the delete
    // never happened (pre-batch state), marker cleared at reload
    val (dirA, rowsA, _) = crashFixture("delA")
    val gA = Tombstones.nextGen(spark, dirA)
    GraphMaintenance.writeMarker(spark, dirA, "delete", gA)
    val reA = VectorIndex.load(spark, dirA)
    assert(GraphMaintenance.inflight(spark, dirA).isEmpty)
    assert(reA.count === 60L, "a lost delete must leave the pre-batch state")
    assert(reA.query(5L).count() === 1L)

    // window B: tombstone landed, heal + marker clear lost — the
    // delete IS visible (the append is the atomic publish), and reload
    // finishes the heals
    val (dirB, rowsB, _) = crashFixture("delB")
    val gB = Tombstones.nextGen(spark, dirB)
    GraphMaintenance.writeMarker(spark, dirB, "delete", gB)
    Tombstones.appendUpto(spark, dirB, Seq(5L).toDF("id"), gB - 1)
    val reB = VectorIndex.load(spark, dirB)
    assert(GraphMaintenance.inflight(spark, dirB).isEmpty)
    assert(reB.count === 59L)
    assert(reB.query(5L).count() === 0L)
    assert(!reB.search(rowsB(5)._2, 3).collect().map(_.getLong(1)).contains(5L),
      "a published delete must hold after crash recovery")
  }

  test("crash-injection: a crashed holder's lease defers recovery; breakLease + reload settles it") {
    import graft.operators.{GraphMaintenance, IvfIndex, Tombstones}
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val (dir, rows, cents) = crashFixture("lease")
    val pre = rows(3)._2
    val moved = pre.map(_ + 9f)
    val g = Tombstones.nextGen(spark, dir)
    GraphMaintenance.writeMarker(spark, dir, "upsert", g)
    IvfIndex.appendPartitioned(
      Seq((3L, moved.toSeq, null: String)).toDF("id", "vectors", "data")
        .select(col("id").cast("long"), col("vectors").cast("array<float>"),
          col("data").cast("string")).withColumn("gen", lit(g)),
      "vectors", cents, s"$dir/data")
    // simulate the crashed holder: its lease file survives the kill
    val lp = new org.apache.hadoop.fs.Path(dir, "_graft_lease")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lp, true)
    out.write("""{"token": "dead", "verb": "VectorIndex.upsertAll", "pid": "0", "acquired_at_ms": 0}""".getBytes("UTF-8"))
    out.close()

    // a reader load defers to the (apparently live) holder: marker
    // stays, the transient state serves BOTH generations — duplicate,
    // never neither — and stats make the situation visible
    val held = VectorIndex.load(spark, dir)
    assert(GraphMaintenance.inflight(spark, dir).isDefined,
      "recovery must not run under another writer's lease")
    assert(held.query(3L).count() === 2L,
      "mid-protocol state serves both generations (duplicate, never lost)")
    val st = held.stats.collect().head
    assert(st.getAs[Boolean]("lease_held") && st.getAs[String]("inflight") != null,
      "stats must surface both the orphaned lease and the in-flight marker")

    // the runbook: break the crashed holder's lease, reload — recovered
    graft.operators.Artifacts.breakLease(spark, dir)
    val re = VectorIndex.load(spark, dir)
    assert(GraphMaintenance.inflight(spark, dir).isEmpty)
    assert(re.query(3L).count() === 1L)
    assert(re.query(3L).collect().head.getSeq[Float](1).toArray.toSeq === moved.toSeq)
    assert(re.count === 60L)
  }

  test("crash-injection: an interrupted _gen write never throws on read (temp adoption); external corruption fails loudly with the repair") {
    import graft.operators.Tombstones
    val (dir, _, _) = crashFixture("gen")
    assert(Tombstones.nextGen(spark, dir) === 1L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the one reachable partial state: _gen deleted, _gen_tmp complete
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_gen"), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_gen_tmp"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    assert(Tombstones.currentGen(spark, dir) === 2L,
      "currentGen must adopt the completed temp write")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_gen")),
      "adoption must finish the rename")
    assert(Tombstones.nextGen(spark, dir) === 3L, "the counter keeps advancing")
    // an EXISTING unparsable _gen is unreachable by the protocol ⇒
    // external interference ⇒ loud, self-describing failure (silently
    // restarting at 0 would let old tombstones swallow new mutations)
    val out2 = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_gen"), true)
    out2.write("not-a-number".getBytes("UTF-8")); out2.close()
    val e = intercept[IllegalStateException](Tombstones.currentGen(spark, dir))
    assert(e.getMessage.contains("repair"), e.getMessage)
  }

  test("routing heals: mutations that kill a medoid entry re-seed its cluster; churn never starves the walk") {
    import graft.operators.{GraphMaintenance, Tombstones}
    val s = spark; import s.implicits._
    val (dir, rows, cents) = crashFixture("heal")
    var idx = VectorIndex.load(spark, dir)

    def liveEntryClusters(): Set[Int] =
      Tombstones.filterGen(
        Tombstones.readWithGen(spark, s"$dir/serve/entries"), dir, "id", "gen")
        .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    def liveDataClusters(): Set[Int] =
      Tombstones.filterGen(
        Tombstones.readWithGen(spark, s"$dir/data"), dir, "id", "gen")
        .select(org.apache.spark.sql.functions.col("cluster").cast("int"))
        .distinct().collect().map(_.getInt(0)).toSet

    val entryIds = Tombstones.readWithGen(spark, s"$dir/serve/entries")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(entryIds.nonEmpty)
    // kill EVERY original entry: upsert half of them away, delete the rest
    val (toMove, toKill) = entryIds.splitAt(entryIds.length / 2)
    if (toMove.nonEmpty)
      idx = idx.upsertAll(toMove.map(id =>
          (id, rows(id.toInt)._2.map(_ + 5f).toSeq, None: Option[String]))
        .toDF("id", "vectors", "data"))
    if (toKill.nonEmpty)
      idx = idx.deleteAll(toKill.toDF("id"))
    // the invariant the heal maintains: every cluster with live rows
    // has a live entry — the walk can never return empty on a
    // non-empty index because its entry points all died
    assert(liveDataClusters().subsetOf(liveEntryClusters()),
      s"every live cluster needs a live entry: data=${liveDataClusters()} entries=${liveEntryClusters()}")
    val q = rows(1)._2
    assert(idx.search(q, 3).collect().nonEmpty,
      "the walk must keep serving after every original entry died")

    // grind: 6 more rounds of entry-killing churn, invariant holds
    val rnd = new scala.util.Random(99)
    for (round <- 1 to 6) {
      val liveIds = Tombstones.filterGen(
        GraphMaintenance.standingIds(spark, dir), dir, "id", "gen")
        .select("id").collect().map(_.getLong(0))
      val pick = rnd.shuffle(liveIds.toSeq).take(3)
      idx = if (round % 2 == 0) idx.deleteAll(pick.toDF("id"))
            else idx.upsertAll(pick.map(id =>
                (id, Array.fill(4)(rnd.nextGaussian().toFloat * 10).toSeq,
                  None: Option[String])).toDF("id", "vectors", "data"))
      assert(liveDataClusters().subsetOf(liveEntryClusters()),
        s"round $round: entry invariant broken")
      assert(idx.search(q, 3).collect().nonEmpty, s"round $round: walk starved")
    }
  }

  test("routing heals: a node starved by its neighbors' deletion gets re-linked (live out-degree floor)") {
    import graft.operators.{GraphMaintenance, Tombstones}
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val (dir, rows, cents) = crashFixture("relink")
    var idx = VectorIndex.load(spark, dir)
    val k = 4 // graphK of the fixture

    def liveOutDegrees(): Map[Long, Long] =
      Tombstones.filterEdgesGen(
        Tombstones.readWithGen(spark, s"$dir/serve/edges"), dir,
        "src_id", "dst_id", "gen")
        .groupBy("src_id").agg(count(lit(1)).as("deg"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def liveIds(): Set[Long] = Tombstones.filterGen(
      GraphMaintenance.standingIds(spark, dir), dir, "id", "gen")
      .select("id").collect().map(_.getLong(0)).toSet

    // repeatedly delete a live node's entire out-neighborhood — the
    // adversarial churn that thins edge lists fastest
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val degs = liveOutDegrees()
      val target = rnd.shuffle(liveIds().toSeq).find(degs.contains).get
      val neigh = Tombstones.filterEdgesGen(
        Tombstones.readWithGen(spark, s"$dir/serve/edges"), dir,
        "src_id", "dst_id", "gen")
        .where(col("src_id") === target).select("dst_id")
        .collect().map(_.getLong(0)).filter(_ != target)
      if (neigh.nonEmpty) {
        idx = idx.deleteAll(neigh.toSeq.toDF("id"))
        val after = liveOutDegrees()
        val live = liveIds()
        // the floor: a live node the churn starved holds at least
        // min(k/2, live cluster mates) out-edges after the re-link heal
        for (id <- Seq(target) if live.contains(id)) {
          val liveData = Tombstones.filterGen(
            Tombstones.readWithGen(spark, s"$dir/data"), dir, "id", "gen")
          val myCluster = liveData.where(col("id") === id)
            .select(col("cluster").cast("int")).collect().head.getInt(0)
          val mates = liveData
            .where(col("cluster").cast("int") === myCluster && col("id") =!= id)
            .count()
          val floor = math.min(math.max(1, k / 2).toLong, mates)
          assert(after.getOrElse(id, 0L) >= floor,
            s"round $round: node $id starved (deg=${after.getOrElse(id, 0L)}, floor=$floor)")
        }
      }
    }
    // never-stale sanity after the churn: every served id is live
    val hits = idx.search(rows(2)._2, 3).collect()
    assert(hits.nonEmpty)
    val live = liveIds()
    hits.foreach(h => assert(live.contains(h.getLong(1)), "served id must be live"))
  }

  /** The live rows of one maintained-GRAPH layout table (the read
    * filter's view, through the sidecar join), as a set.
    */
  private def liveRows(dir: String, rel: String): Set[Seq[Any]] = {
    import graft.operators.Tombstones
    val raw = Tombstones.readWithGen(spark, s"$dir/$rel")
    val live =
      if (rel == "serve/edges") Tombstones.filterEdgesGen(raw, dir, "src_id", "dst_id", "gen")
      else Tombstones.filterGen(raw, dir, "id", "gen")
    live.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toSet
  }

  test("artifact view: the inline-fold and broadcast-join forks maintain identical layouts and answers") {
    val s = spark; import s.implicits._
    val (dirA, rows, _) = crashFixture("fork")
    val dirB = java.nio.file.Files.createTempDirectory("graft-crash-fork-join").toString
    val fs = new org.apache.hadoop.fs.Path(dirA).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dirB), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dirA), fs,
      new org.apache.hadoop.fs.Path(dirB), false, spark.sparkContext.hadoopConfiguration)
    var a = VectorIndex.load(spark, dirA)
    // cap 0: the view never folds the sidecar, every filter is the join
    var b = VectorIndex.load(spark, dirB).withInlineCap(0)
    val fresh = rows(4)._2.map(_ + 0.5f)
    val steps: Seq[(String, VectorIndex => VectorIndex)] = Seq(
      "upsert" -> (_.upsert(3L, rows(3)._2.map(_ + 6f))),
      "delete" -> (_.delete(8L)),
      "insert" -> (_.insert(1000L, fresh)),
      "re-upsert of the deleted id" -> (_.upsert(8L, rows(8)._2.map(_ - 6f))),
      "compact" -> (_.compact()))
    val queries = Seq(rows(3)._2, rows(8)._2, fresh, rows(20)._2)
    steps.foreach { case (name, step) =>
      a = step(a)
      b = step(b)
      for (rel <- Seq("data", "serve/edges", "serve/entries"))
        assert(liveRows(dirA, rel) === liveRows(dirB, rel), s"after $name: live $rel rows differ")
      queries.foreach { q =>
        assert(a.search(q, 5).collect().toSeq === b.search(q, 5).collect().toSeq,
          s"after $name: search answers differ")
      }
    }
    assert(a.count === 61L && b.count === 61L)
    assert(!graft.operators.Tombstones.present(spark, dirB), "compact must clear the sidecar")
  }

  /** The declared GRAPH schemas against what the files hold (inferred
    * here, merging every file, so one drifting append cannot hide; the
    * fixture's rows are null-free, so a null marks a file that lacks a
    * declared column), and the sidecar's row shape: every row carries
    * its `upto_gen`.
    */
  private def assertLayout(dir: String, tag: String): Unit = {
    import graft.operators.{GraphMaintenance, Tombstones}
    import org.apache.spark.sql.functions.col
    def merged(rel: String) = spark.read.option("mergeSchema", "true").parquet(s"$dir/$rel")
    GraphMaintenance.Schemas.foreach { case (rel, declared) =>
      val t = merged(rel)
      assert(t.schema === declared, s"$tag: $rel no longer matches its declared schema")
      assert(t.where(declared.fieldNames.map(col(_).isNull).reduce(_ || _)).isEmpty,
        s"$tag: a $rel file lacks a declared column")
    }
    if (Tombstones.present(spark, dir))
      assert(merged("_tombstones").where(col("upto_gen").isNull).isEmpty,
        s"$tag: a sidecar row without upto_gen")
  }

  test("layout drift: flat and routed GRAPH writers match the declared schemas through every verb, text tables carry gen") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, min}
    val rnd = new scala.util.Random(53)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextGaussian().toFloat * 10))
    def mk(i: Int): (Long, Array[Float], Option[String]) =
      (i.toLong, centers(i % 6).map(x => x + rnd.nextGaussian().toFloat), Some(s"""{"g": ${i % 2}}"""))
    val rows = (0 until 240).map(mk)
    // the routed arm saves under the conf that puts ivfClusters = 6
    // above the routed-K threshold
    for (routed <- Seq(false, true)) {
      val arm = if (routed) "routed" else "flat"
      val dir = java.nio.file.Files.createTempDirectory(s"graft-api-layout-$arm").toString
      if (routed) spark.conf.set("spark.graft.routed.kThreshold", "4")
      try {
        VectorIndex.create(spark, IndexType.GRAPH, 8, Metric.L2,
            IndexParams(ivfClusters = 6, graphK = 5, graphBeam = 8, graphHops = 2))
          .insertAll(rows.toDF("id", "vectors", "data"))
          .save(dir)
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/quantizer")) === routed)
        var idx = VectorIndex.load(spark, dir)
        assertLayout(dir, s"$arm save")
        // the delete takes a live medoid entry too, so the entry heal
        // appends a re-seeded entry
        val deleted = Seq(11L, 17L, 23L)
        def liveEntry(): Long = operators.Tombstones.filterGen(
            operators.GraphMaintenance.read(spark, dir, "serve/entries"), dir, "id", "gen")
          .where(!col("id").isin(deleted: _*)).agg(min("id")).head.getLong(0)
        val steps: Seq[(String, VectorIndex => VectorIndex)] = Seq(
          "upsert" -> (_.upsert(7L, centers(2).map(_ + 0.5f), "{\"g\": 1}")),
          "delete" -> (i => i.deleteAll((deleted :+ liveEntry()).toDF("id"))),
          "insert" -> (_.insertAll((500 until 506).map(mk).toDF("id", "vectors", "data"))),
          "compact" -> (_.compact()))
        steps.foreach { case (verb, step) =>
          idx = step(idx)
          assertLayout(dir, s"$arm $verb")
        }
        assert(idx.count === 242L)
      } finally spark.conf.unset("spark.graft.routed.kThreshold")
    }

    // text: the build stamps gen 0 and every later writer its own
    val docs = graft.sources.Tables.documents(spark, sf001).select("doc_id", "text")
      .where(col("doc_id") < 60)
    val tdir = java.nio.file.Files.createTempDirectory("graft-api-layout-text").toString
    var text = TextIndex.build(docs.where(col("doc_id") < 40), "doc_id", "text", tdir)
    def assertGen(tag: String): Unit = {
      for (rel <- Seq("postings", "doclen")) {
        val t = spark.read.option("mergeSchema", "true").parquet(s"$tdir/$rel")
        assert(t.columns.contains("gen") && t.where(col("gen").isNull).isEmpty,
          s"$tag: $rel rows without gen")
      }
      if (graft.operators.Tombstones.present(spark, tdir))
        assert(spark.read.option("mergeSchema", "true").parquet(s"$tdir/_tombstones")
          .where(col("upto_gen").isNull).isEmpty, s"$tag: a sidecar row without upto_gen")
    }
    assertGen("build")
    val textSteps: Seq[(String, TextIndex => TextIndex)] = Seq(
      "append" -> (_.append(docs.where(col("doc_id") >= 40), "doc_id", "text")),
      "upsert" -> (_.upsert(Seq((3L, "an entirely new body")).toDF("doc_id", "text"),
        "doc_id", "text")),
      "delete" -> (_.delete(Seq(5L).toDF("doc_id"))),
      "compact" -> (_.compact()))
    textSteps.foreach { case (verb, step) =>
      text = step(text)
      assertGen(verb)
    }
  }

  test("load refuses an artifact without a current-layout manifest and names the re-save or rebuild") {
    val s = spark; import s.implicits._
    for (rel <- Seq("serve/_entrycount", "_ids")) {
      val (dir, _, _) = crashFixture(s"guard-${rel.replace('/', '-')}")
      val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val e = intercept[IllegalArgumentException](VectorIndex.load(spark, dir))
      assert(e.getMessage.contains(rel) && e.getMessage.contains("re-save"), e.getMessage)
    }
    val tdir = java.nio.file.Files.createTempDirectory("graft-api-guard-text").toString
    TextIndex.build(Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", tdir)
    val p = new org.apache.hadoop.fs.Path(s"$tdir/_pubgen")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val e = intercept[IllegalArgumentException](TextIndex.load(spark, tdir))
    assert(e.getMessage.contains("_pubgen") && e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("crash-injection: an upsert on a handle opened before the crash resumes windows 1-3 through verb-entry recovery") {
    import graft.operators.{GraphMaintenance, IvfIndex, Tombstones}
    import org.apache.spark.sql.functions._
    val s = spark; import s.implicits._
    val victim = 7L
    for (w <- 1 to 3) {
      val (dir, rows, cents) = crashFixture(s"entry$w")
      // the writer's handle predates the crash: its next verb, not a
      // load(), finds and settles the marker
      val writer = VectorIndex.load(spark, dir)
      val pre = rows(victim.toInt)._2
      val moved = pre.map(_ + 9f)
      val g = Tombstones.nextGen(spark, dir)
      GraphMaintenance.writeMarker(spark, dir, "upsert", g)
      if (w >= 2) IvfIndex.appendPartitioned(
        Seq((victim, moved.toSeq, null: String)).toDF("id", "vectors", "data")
          .select(col("id").cast("long"), col("vectors").cast("array<float>"),
            col("data").cast("string")).withColumn("gen", lit(g)),
        "vectors", cents, s"$dir/data")
      if (w >= 3) GraphMaintenance.appendServeEdges(spark, dir,
        Tombstones.readWithGen(spark, s"$dir/data").where(col("gen") === g),
        4, "l2", g)

      val latest = pre.map(_ - 9f)
      val after = writer.upsert(victim, latest)
      assert(GraphMaintenance.inflight(spark, dir).isEmpty,
        s"window $w: the verb must settle the marker it found")
      // every resumed step ran exactly once: the gen-g edges and _ids
      // rows exist once (never re-appended by the resume), and only
      // when the batch landed
      val edgesG = Tombstones.readWithGen(spark, s"$dir/serve/edges")
        .where(col("gen") === g).select("src_id", "dst_id").collect().toSeq
      assert(edgesG.distinct.size === edgesG.size, s"window $w: gen-$g edges appended twice")
      assert(edgesG.nonEmpty === (w >= 2), s"window $w: gen-$g edges ${edgesG.size}")
      val idsG = spark.read.parquet(s"$dir/_ids").where(col("gen") === g).collect()
      assert(idsG.length === (if (w >= 2) 1 else 0), s"window $w: gen-$g _ids rows ${idsG.length}")
      // the id serves only its latest vector
      val got = after.query(victim).collect()
      assert(got.length === 1, s"window $w: id must serve exactly one row")
      assert(got.head.getSeq[Float](1) === latest.toSeq, s"window $w: id must serve its latest vector")
      assert(after.count === 60L, s"window $w: cardinality must be stable")
      val hit = after.search(latest, 3).collect()
      assert(hit.exists(r => r.getLong(1) == victim && math.abs(r.getDouble(2)) < 1e-3),
        s"window $w: the latest vector must be reachable at distance 0")
      for (old <- Seq(pre, moved))
        assert(!after.search(old, 3).collect().exists(r =>
            r.getLong(1) == victim && math.abs(r.getDouble(2)) < 1e-3),
          s"window $w: a superseded vector must never be served")
    }
  }

  /** Spark jobs run under `group`, counted by a listener the way
    * ScaleSpec's GroupMetrics attributes work to a job group.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (group == js.properties.getProperty("spark.jobGroup.id")) n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // the listener bus is async: poll until the count settles
      var prev = -1
      var settled = 0
      var waited = 0
      while (settled < 2 && waited < 50) {
        Thread.sleep(100); waited += 1
        val cur = n.get
        if (cur == prev) settled += 1 else { settled = 0; prev = cur }
      }
      n.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("job budget: one GRAPH upsert, delete, insert and search stay within their Spark-job budgets") {
    val (dir, rows, _) = crashFixture("budget")
    var idx = VectorIndex.load(spark, dir)
    idx.search(rows(1)._2, 5).collect()
    // each verb reads the sidecar once under its lease and the layout
    // under the declared schemas; a change that brings back per-action
    // sidecar folds, schema inference or recovery probes on the fresh
    // path overruns these
    val budgets = Seq[(String, Int, () => Unit)](
      ("upsert", UpsertJobs, () => idx = idx.upsert(5L, rows(5)._2.map(_ + 3f))),
      ("search after a mutation", SearchJobs, () => idx.search(rows(2)._2, 5).collect()),
      ("delete", DeleteJobs, () => idx = idx.delete(11L)),
      ("insert", InsertJobs, () => idx = idx.insert(500L, rows(12)._2.map(_ + 0.25f))))
    budgets.foreach { case (verb, budget, body) =>
      val jobs = jobsOf(s"budget-$verb")(body())
      info(s"$verb: $jobs jobs (budget $budget)")
      assert(jobs <= budget, s"$verb ran $jobs Spark jobs, over its budget of $budget")
    }
  }

  // measured on the crash fixture (local[8], 4 shuffle partitions): 15 /
  // 5 / 14 jobs per upsert / delete / insert, plus one of slack for an
  // AQE stage split; a search after a mutation runs hops + 1 walk
  // collects, its final action and the one sidecar collect
  private val UpsertJobs = 16
  private val DeleteJobs = 6
  private val InsertJobs = 15
  private val SearchJobs = 6
}
