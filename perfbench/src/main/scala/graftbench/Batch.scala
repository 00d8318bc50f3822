package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The keyed-inventory batch workload: the queries of `SparkEntry.queries`,
  * each built by its `fn(spark, dir)` (the construct phase) and then
  * fingerprinted (the action phase), one at a time in a seeded order.
  */
object Batch {
  val Name = "batch_sf0.001"

  /** The operator family a query key belongs to (the SparkEntry sections). */
  def family(key: String): String = {
    def starts(ps: String*) = ps.exists(key.startsWith)
    if (starts("multimodal_")) "multimodal"
    else if (starts("dedup_")) "dedup"
    else if (starts("corpus_", "pack_sequences")) "corpus"
    else if (starts("text_", "bm25", "filtered_bm25", "hybrid_", "filtered_hybrid",
        "retrieval_", "embedding_mmr")) "text"
    else if (starts("events_")) "events"
    else if (key.matches("q[0-9]+_.*") || starts("orders_", "lineitem_", "customer_",
        "supplier_", "table_", "bloom_pruned_join", "layout_zorder")) "tpch"
    else if (starts("knn_", "ann_", "filtered_knn", "filtered_ann", "vector_", "embedding_",
        "pq_", "upsert", "delete_", "cdc_apply", "query_by_id", "lookup_cost_model",
        "filter_index_build", "index_stats")) "vector"
    else "other"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType    => true
    case a: ArrayType  => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _             => false
  }

  /** An order-independent fingerprint over EVERY output column: row count
    * plus two 32-bit halves of the summed per-row xxhash64. Unlike
    * `count()`, it leaves Catalyst no output column to prune.
    */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def call(ctx: Ctx, key: String, pass: Int): Map[String, Any] = {
    val fn = SparkEntry.queries(key)
    val fam = family(key)
    val req = ctx.tags.next()
    val base = Map[String, Any]("req" -> req, "op" -> key, "kind" -> fam, "pass" -> pass,
      "traced" -> ctx.traced)
    val rec = try {
      val (df, cms) = ctx.phase(req, key, fam, "construct")(fn(ctx.spark, ctx.data))
      val ((rows, lo, hi), ams) = ctx.phase(req, key, fam, "action")(fingerprint(df))
      base ++ Map("ok" -> true, "construct_ms" -> cms, "action_ms" -> ams,
        "ms" -> (cms + ams), "rows" -> rows, "fp" -> s"$rows:$lo:$hi")
    } catch {
      case e: Throwable => base ++ Map("ok" -> false, "err" -> Vectors.describe(e))
    }
    ctx.sampleCache()
    rec
  }

  /** Runs `pass` repeatedly for the run's seconds. A traced run attaches
    * the recorder for every other pass only, so the same run also yields
    * the trace overhead (traced over untraced passes, equally warm).
    */
  def timed(ctx: Ctx)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val least = if (ctx.recorder.isDefined) 2 else 1
    var i = 0
    while (i < least || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      if (i % 2 == 1) ctx.attach()
      val p0 = System.nanoTime()
      pass(i)
      ctx.passes += ((ctx.traced, (System.nanoTime() - p0) / 1e9))
      ctx.detach()
      i += 1
    }
  }

  def run(ctx: Ctx): Unit = {
    val keys =
      if (ctx.queries == "all") SparkEntry.queries.keys.toSeq.sorted
      else ctx.queries.split(",").toSeq.filter(_.nonEmpty)
    require(keys.nonEmpty && keys.forall(SparkEntry.queries.contains),
      s"unknown query keys: ${keys.filterNot(SparkEntry.queries.contains).mkString(",")}")
    // set-up: one untimed pass in key order warms the JIT and builds every
    // write-once artifact the queries persist (KMeans fits, IVF/PQ layouts)
    val w0 = System.nanoTime()
    keys.foreach(k => ctx.ops += call(ctx, k, -1))
    ctx.setup("warm_s") = (System.nanoTime() - w0) / 1e9
    ctx.setup("build_s") = 0.0
    ctx.spark.catalog.clearCache()
    ctx.extra("persisted_before") = ctx.persistedNow
    val rng = new scala.util.Random(ctx.seed)
    timed(ctx) { pass =>
      rng.shuffle(keys).foreach(k => ctx.ops += call(ctx, k, pass))
    }
    ctx.extra("persisted_after") = ctx.persistedNow
    ctx.extra("footprint_bytes") =
      Vectors.dirBytes("target/graft-persist") + Vectors.dirBytes("spark-warehouse")
  }
}
