package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.{FilterOp, IndexParams, IndexType, Metric, VectorIndex}
import graft.operators.Tombstones

/** A returned answer disagreed with the harness's own live model. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** The harness's live model of a vector index (id → vector, id → doc):
  * the reference every returned answer is checked against.
  */
final class Model {
  val vecs = mutable.LongMap.empty[Array[Float]]
  val docs = mutable.LongMap.empty[String]

  def put(id: Long, v: Array[Float]): Unit = { vecs(id) = v; docs(id) = Vectors.doc(id) }
  def remove(id: Long): Unit = { vecs -= id; docs -= id }

  /** Exact top-k (distance, then id) over the live ids passing `keep`. */
  def exact(q: Array[Float], k: Int, keep: Long => Boolean = _ => true): Array[Long] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)]
    vecs.foreach { case (id, v) =>
      if (keep(id)) {
        val d = Vectors.l2(q, v)
        if (heap.size < k) heap.enqueue((d, id))
        else if (d < heap.head._1 || (d == heap.head._1 && id < heap.head._2)) {
          heap.dequeue(); heap.enqueue((d, id))
        }
      }
    }
    heap.toArray.sorted.map(_._2)
  }

  /** Checks a k-NN answer: ids distinct, live, passing `keep`, each with
    * its exact distance, ascending. Returns recall against the exact top-k.
    */
  def check(q: Array[Float], k: Int, ids: Seq[Long], values: Seq[Double],
            keep: Long => Boolean = _ => true): Double = {
    if (ids.distinct.size != ids.size) throw new Mismatch(s"duplicate ids ${ids.mkString(",")}")
    if (ids.size > k) throw new Mismatch(s"${ids.size} rows for k=$k")
    ids.zip(values).foreach { case (id, v) =>
      val vec = vecs.getOrElse(id, throw new Mismatch(s"id $id is not live"))
      if (!keep(id)) throw new Mismatch(s"id $id fails the filter")
      val d = Vectors.l2(q, vec)
      if (math.abs(d - v) > 1e-3 + 1e-4 * d)
        throw new Mismatch(s"id $id distance $v, exact $d")
    }
    if (values.zip(values.drop(1)).exists { case (a, b) => a > b })
      throw new Mismatch("distances not ascending")
    val truth = exact(q, k, keep)
    if (truth.isEmpty) 1.0
    else ids.count(truth.toSet).toDouble / truth.length
  }
}

/** The request-style workload over a persisted GRAPH index, issued through
  * the `graft.api.VectorIndex` facade from one driver thread (a closed loop:
  * each call starts when the previous one has returned).
  */
object Vectors {
  val Name = "vector_serve_mutate"
  val N = 2000
  val Dim = 64
  val Clusters = 8
  val K = 10
  val BatchQueries = 64
  val CentreSeed = 7L

  def doc(id: Long): String = s"""{"s4":${id % 4},"s128":${id % 128}}"""

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Clustered vectors: points scattered round Gaussian centres. The centres
    * are the same for every seed (one data distribution); the seed draws the
    * points, the queries and the mutations.
    */
  final class Gen(seed: Long) {
    private val centres = {
      val r = new java.util.Random(CentreSeed)
      Array.fill(Clusters, Dim)(r.nextGaussian().toFloat)
    }
    val rng = new java.util.Random(seed)
    def point(): Array[Float] = {
      val c = centres(rng.nextInt(Clusters))
      Array.tabulate(Dim)(j => c(j) + 0.35f * rng.nextGaussian().toFloat)
    }
    /** A query near a live point, as a user holding a similar item would send. */
    def near(model: Model, ids: IndexedSeq[Long]): Array[Float] = {
      val v = model.vecs(ids(rng.nextInt(ids.size)))
      v.map(x => x + 0.1f * rng.nextGaussian().toFloat)
    }
  }

  def dirStats(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists()) (0L, 0L)
    else {
      val files = Iterator.iterate(Seq(root))(_.flatMap(f =>
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil))).takeWhile(_.nonEmpty)
        .flatten.filter(_.isFile).toSeq
      (files.size.toLong, files.map(_.length).sum)
    }
  }

  def dirBytes(path: String): Long = dirStats(path)._2

  /** One facade call: `mk` builds the answer (the construct phase, which
    * includes any eager jobs the verb runs), `collect()` materializes it
    * (the collect phase), and `check` verifies it against the model.
    */
  def call(ctx: Ctx, verb: String, pass: Int)(mk: => DataFrame)
          (check: Array[Row] => Map[String, Any]): Map[String, Any] = {
    val req = ctx.tags.next()
    val base = Map[String, Any]("req" -> req, "op" -> verb, "kind" -> "api", "pass" -> pass,
      "traced" -> ctx.traced)
    val rec = try {
      val (df, cms) = ctx.phase(req, verb, "api", "construct")(mk)
      val (rows, ams) = ctx.phase(req, verb, "api", "action")(df.collect())
      base ++ Map("ok" -> true, "construct_ms" -> cms, "action_ms" -> ams,
        "ms" -> (cms + ams)) ++ check(rows)
    } catch {
      case e: Throwable => base ++ Map("ok" -> false, "err" -> describe(e))
    }
    ctx.sampleCache()
    rec
  }

  /** A facade call that returns an index (load and the writes): the verb
    * does all its work eagerly, so the whole call is its construct phase.
    */
  def eager(ctx: Ctx, verb: String, pass: Int)(body: => VectorIndex): (Option[VectorIndex], Map[String, Any]) = {
    val req = ctx.tags.next()
    val base = Map[String, Any]("req" -> req, "op" -> verb, "kind" -> "api", "pass" -> pass,
      "traced" -> ctx.traced)
    val out = try {
      val (idx, ms) = ctx.phase(req, verb, "api", "construct")(body)
      (Some(idx), base ++ Map("ok" -> true, "construct_ms" -> ms, "action_ms" -> 0.0, "ms" -> ms))
    } catch {
      case e: Throwable => (None, base ++ Map("ok" -> false, "err" -> describe(e)))
    }
    ctx.sampleCache()
    out
  }

  def rowsOf(ctx: Ctx, model: Model): DataFrame = {
    import ctx.spark.implicits._
    model.vecs.toSeq.sortBy(_._1).map { case (id, v) => (id, v, model.docs(id)) }
      .toDF("id", "vectors", "data")
  }

  /** Builds and saves a GRAPH index of the model under `path`; returns the build seconds. */
  def build(ctx: Ctx, model: Model, path: String): Double = {
    val t0 = System.nanoTime()
    VectorIndex.create(ctx.spark, IndexType.GRAPH, Dim, Metric.L2, IndexParams())
      .insertAll(rowsOf(ctx, model)).save(path)
    (System.nanoTime() - t0) / 1e9
  }

  def seeded(seed: Long, n: Int): (Gen, Model) = {
    val g = new Gen(seed)
    val m = new Model
    (0 until n).foreach(i => m.put(i.toLong, g.point()))
    (g, m)
  }

  def search(ctx: Ctx, idx: VectorIndex, model: Model, q: Array[Float], pass: Int): Map[String, Any] =
    call(ctx, "search", pass)(idx.search(q, K)) { rows =>
      val s = rows.sortBy(_.getAs[Int]("rank"))
      Map("recall" -> model.check(q, K, s.map(_.getAs[Long]("id")).toSeq,
        s.map(_.getAs[Double]("value")).toSeq))
    }

  /** `searchBatch` of [[BatchQueries]] seeded queries, every answer checked. */
  def searchBatch(ctx: Ctx, idx: VectorIndex, model: Model, gen: Gen, ids: IndexedSeq[Long],
                  pass: Int): Map[String, Any] = {
    val qs = IndexedSeq.fill(BatchQueries)(gen.near(model, ids))
    call(ctx, "search_batch", pass) {
      import ctx.spark.implicits._
      idx.searchBatch(qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("q_id", "q_vec"), K)
    } { rows =>
      val by = rows.groupBy(_.getAs[Long]("q_id"))
      if (by.size != qs.size) throw new Mismatch(s"${by.size} of ${qs.size} queries answered")
      val recalls = by.toSeq.map { case (qi, rs) =>
        val s = rs.sortBy(_.getAs[Int]("rank"))
        model.check(qs(qi.toInt), K, s.map(_.getAs[Long]("n_id")).toSeq,
          s.map(_.getAs[Double]("value")).toSeq)
      }
      Map("recall" -> recalls.sum / recalls.size, "queries" -> qs.size)
    }
  }

  def field(id: Long, name: String): Long = if (name == "s4") id % 4 else id % 128

  /** Mutations of the fixed sequence, in order; the seed picks the ids and
    * vectors. The second tombstone-writing verb triggers the auto-compact.
    */
  val WriteMix: Seq[String] = Seq("upsert", "delete", "insert")

  /** Auto-compact threshold recorded on the index: the sidecar folds at its
    * second tombstone row (the upsert's and the delete's), so every run
    * compacts exactly once, at the same point.
    */
  val CompactRatio: Double = 1.5 / N

  /** The vector workload, count-based: on a freshly built and saved index,
    * one serve cycle of reads, then the fixed mutation sequence with its
    * reads, then a reader's reopen and a checked batch search of the mutated
    * index. The index state every read sees is the same on a faster or
    * slower build.
    */
  def run(ctx: Ctx): Unit = {
    val (gen, model) = seeded(ctx.seed, N)
    val ids = model.vecs.keys.toIndexedSeq.sorted
    val path = "index"
    ctx.setup("build_s") = build(ctx, model, path)
    Tombstones.recordPolicy(ctx.spark, path, CompactRatio)
    val w0 = System.nanoTime()
    var idx: VectorIndex = null
    val (_, lrec) = eager(ctx, "load", -1) { idx = VectorIndex.load(ctx.spark, path); idx }
    ctx.ops += lrec

    def plain(pass: Int): Unit = ctx.ops += search(ctx, idx, model, gen.near(model, ids), pass)
    // s4 passes 1/4 of the ids (a walked selectivity: the beam widens);
    // s128 passes 1/128, below the 1/64 floor (the exact scan of the pass set)
    def filtered(f: String)(pass: Int): Unit = {
      val q = gen.near(model, ids)
      val v = gen.rng.nextInt(if (f == "s4") 4 else 128).toLong
      ctx.ops += call(ctx, "search_filtered", pass)(
        idx.searchFiltered(q, K, f, FilterOp.Equal, v)) { rows =>
        val s = rows.sortBy(_.getAs[Int]("rank"))
        Map("recall" -> model.check(q, K, s.map(_.getAs[Long]("id")).toSeq,
          s.map(_.getAs[Double]("value")).toSeq, id => field(id, f) == v), "field" -> f)
      }
    }
    def batch(pass: Int): Unit = ctx.ops += searchBatch(ctx, idx, model, gen, ids, pass)
    def lookup(pass: Int): Unit = {
      val id = ids(gen.rng.nextInt(ids.size))
      ctx.ops += call(ctx, "query", pass)(idx.query(id)) { rows =>
        if (rows.length != 1 || rows(0).getAs[Long]("id") != id
            || !rows(0).getSeq[Float](1).toArray.sameElements(model.vecs(id))
            || rows(0).getAs[String]("data") != model.docs(id))
          throw new Mismatch(s"query($id) returned ${rows.mkString(";")}")
        Map.empty
      }
    }
    val kinds = Seq[Int => Unit](plain, filtered("s4"), filtered("s128"), batch, lookup)
    val cycle = Seq[Int => Unit](plain, filtered("s4"), lookup, plain, filtered("s128"))
    // warm-up: each kind of read once (JIT, codegen caches); no writes, so
    // the timed part starts from the built state
    kinds.foreach(_(-1))
    ctx.setup("warm_s") = (System.nanoTime() - w0) / 1e9
    ctx.extra("persisted_before") = ctx.persistedNow
    // a traced run serves one extra, untraced cycle first: the same reads
    // with and without the recorder give the trace overhead
    if (ctx.recorder.isDefined) cycle.foreach(_(0))
    ctx.attach()
    val p0 = System.nanoTime()
    cycle.foreach(_(1))
    val written = sequence(ctx, gen, model, path, WriteMix, 1)
    // a reader reopens the mutated index and checks it at batch grain
    val (opened, rrec) = eager(ctx, "load", 1)(VectorIndex.load(ctx.spark, path))
    ctx.ops += rrec
    val last = opened.getOrElse(written)
    ctx.ops += searchBatch(ctx, last, model, gen, model.vecs.keys.toIndexedSeq, 1)
    ctx.passes += ((ctx.traced, (System.nanoTime() - p0) / 1e9))
    ctx.detach()
    ctx.extra("persisted_after") = ctx.persistedNow
    ctx.extra("compactions") = compactions
    finish(ctx, last, model, path)
  }

  private var compactions = 0

  /** Applies `kinds` as single-row writes to the index at `path`, each
    * followed by a search on the handle the write returned. Returns that
    * handle after the last write.
    */
  def sequence(ctx: Ctx, gen: Gen, model: Model, path: String, kinds: Seq[String],
               pass: Int): VectorIndex = {
    var writer = VectorIndex.load(ctx.spark, path)
    var nextId = model.vecs.keys.max + 1
    var tombFiles = dirStats(s"$path/_tombstones")._1
    kinds.foreach { kind =>
      val ids = model.vecs.keys.toIndexedSeq.sorted
      val (idx, rec) = kind match {
        case "upsert" =>
          val id = ids(gen.rng.nextInt(ids.size)); val v = gen.point()
          val r = eager(ctx, kind, pass)(writer.upsert(id, v, doc(id)))
          if (r._1.isDefined) model.put(id, v)
          r
        case "delete" =>
          val id = ids(gen.rng.nextInt(ids.size))
          val r = eager(ctx, kind, pass)(writer.delete(id))
          if (r._1.isDefined) model.remove(id)
          r
        case "insert" =>
          val id = nextId; nextId += 1; val v = gen.point()
          val r = eager(ctx, kind, pass)(writer.insert(id, v, doc(id)))
          if (r._1.isDefined) model.put(id, v)
          r
      }
      ctx.ops += rec
      idx.foreach(writer = _)
      val now = dirStats(s"$path/_tombstones")._1
      if (now < tombFiles) compactions += 1
      tombFiles = now
      ctx.ops += search(ctx, writer, model, gen.near(model, model.vecs.keys.toIndexedSeq), pass)
    }
    writer
  }

  /** Post-run bookkeeping: the index's own stats (its live count must match
    * the model) and the on-disk footprint.
    */
  def finish(ctx: Ctx, idx: VectorIndex, model: Model, path: String): Unit = {
    val st = idx.stats.collect().head
    val live = st.getAs[Long]("n_vectors")
    ctx.extra("stats") = Map("n_vectors" -> live, "n_physical" -> st.getAs[Long]("n_physical"),
      "n_tombstones" -> st.getAs[Long]("n_tombstones"),
      "dead_fraction" -> st.getAs[Double]("dead_fraction"))
    ctx.extra("live_ok") = live == model.vecs.size
    val (files, bytes) = dirStats(path)
    ctx.extra("index_files") = files
    ctx.extra("footprint_bytes") = bytes
    ctx.extra("live_vectors") = model.vecs.size
  }
}
