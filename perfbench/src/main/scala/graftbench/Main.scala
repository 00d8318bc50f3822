package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the job tagger, the
  * records the run writes out, and the cache samples.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val data: String, val queries: String, val recorder: Option[Recorder]) {
  val tags = new Tags(spark.sparkContext)
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val spans = mutable.ArrayBuffer.empty[Span]
  val setup = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Passes of the workload's fixed op list: (traced, wall seconds). */
  val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
  var traced = false

  /** Attaches the recorder (traced runs only): spans from here on are kept. */
  def attach(): Unit = recorder.foreach { r =>
    spark.sparkContext.addSparkListener(r)
    traced = true
  }

  /** Detaches the recorder once every event of the timed part has arrived. */
  def detach(): Unit = if (traced) recorder.foreach { r =>
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(r)
    traced = false
  }

  private val seenRdds = mutable.Set.empty[Int]
  private var memPeak = 0L
  private var diskPeak = 0L

  /** Times `body` as one phase span of request `req`, with its jobs tagged. */
  def phase[T](req: Long, op: String, kind: String, ph: String)(body: => T): (T, Double) = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = tags.around(req, op, ph)(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (traced) spans += Span(req, op, kind, ph, w0, System.currentTimeMillis())
    (r, ms)
  }

  /** Samples the persisted RDDs and their storage footprint (traced runs). */
  def sampleCache(): Unit = if (traced) {
    val sc = spark.sparkContext
    seenRdds ++= sc.getPersistentRDDs.keys
    val info = sc.getRDDStorageInfo
    memPeak = math.max(memPeak, info.map(_.memSize).sum)
    diskPeak = math.max(diskPeak, info.map(_.diskSize).sum)
  }

  def cacheJson: Map[String, Any] =
    Map("persists" -> seenRdds.size, "mem_peak" -> memPeak, "disk_peak" -> diskPeak)

  def persistedNow: Int = spark.sparkContext.getPersistentRDDs.size
}

/** One benchmark run:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE`.
  * Runs in its own working directory (the engine's artifact store and
  * warehouse are relative to it) and writes the raw run record to FILE;
  * `run.py` turns the record into metrics.
  */
object Main {
  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val out = opt("out")
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val recorder = if (opt.getOrElse("trace", "0") == "1") Some(new Recorder) else None
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble,
      opt.getOrElse("data", ""), opt.getOrElse("queries", ""), recorder)
    ctx.setup("session_s") = sessionS
    workload match {
      case Batch.Name   => Batch.run(ctx)
      case Vectors.Name => Vectors.run(ctx)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val conf = spark.conf
    val record = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "settings" -> Map(
        "master" -> spark.sparkContext.master,
        "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.session.timeZone" -> conf.get("spark.sql.session.timeZone"),
        "spark.version" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "setup" -> ctx.setup,
      "passes" -> ctx.passes.map { case (t, s) => Map("traced" -> t, "s" -> s) },
      "ops" -> ctx.ops,
      "cache" -> ctx.cacheJson,
      "extra" -> ctx.extra,
      "trace" -> recorder.map(r => r.toJson ++ Map("spans" -> ctx.spans.map(s =>
        Map("req" -> s.req, "op" -> s.op, "kind" -> s.kind, "phase" -> s.phase,
          "start" -> s.startMs, "end" -> s.endMs)))))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(out), record)
    spark.stop()
  }
}
