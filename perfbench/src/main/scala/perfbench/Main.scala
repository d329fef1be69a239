package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run of a workload hands back to [[Main]]: the durations of
  * its set-ups, of its light operation (`opS`) and of its bulk one
  * (`bulkS`), failed operations excluded, and its throughput in the
  * workload's own unit per second.
  */
final case class Outcome(setupS: Seq[Double], opS: Seq[Double], bulkS: Seq[Double],
                         rate: Double,
                         attempted: Long, failed: Long,
                         detail: Map[String, Double],
                         layers: Map[String, Double])

/** Shared per-run state handed to a workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, work: String,
                     cores: Int, tracer: Tracer, listener: Option[JobListener]) {
  def deadlineAfterNs(s: Double): Long = System.nanoTime() + (s * 1e9).toLong
  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(work, name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

/** Old-generation occupancy right after a full collection — what the
  * driver retains. Workloads sample it at fixed points (after set-up and
  * after each phase); a young or concurrent collection would leave
  * floating garbage in the reading and make it vary from run to run.
  */
object Heap {
  @volatile private var peakBytes = 0L
  private def oldPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  def gcAndSample(): Unit = {
    // the second collection reclaims what Spark's ContextCleaner released
    // in reaction to the first, so the reading does not depend on its timing
    System.gc()
    Thread.sleep(100)
    System.gc()
    oldPools.foreach { p =>
      Option(p.getCollectionUsage).foreach(u => peakBytes = math.max(peakBytes, u.getUsed))
    }
  }
  def peakMb: Double = peakBytes / 1048576.0
  def gcNs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum * 1000000L
}

object Main {
  val Workloads = Seq("replica", "corpus_graph")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * traced run prints all of them; a layer the workload does not reach
    * reads 0.
    */
  val PerLayer: Seq[(String, String)] =
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "task_s" -> "s", "task_max_s" -> "s", "core_util" -> "ratio",
      "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes",
      "spill_bytes" -> "bytes", "input_bytes" -> "bytes", "gc_s" -> "s",
      "driver_s" -> "s").map { case (n, u) => s"spark.$n" -> u } ++
    Seq("jobs" -> "count", "job_s" -> "s", "rows_changed" -> "count",
      "rows_staged" -> "count", "topo_levels" -> "count")
      .map { case (n, u) => s"cdc.$n" -> u } ++
    Seq("merge_jobs" -> "count", "merge_job_s" -> "s", "files_added" -> "count",
      "files_removed" -> "count", "bytes_added" -> "bytes", "log_bytes" -> "bytes",
      "checkpoint_s" -> "s", "state_s" -> "s", "files_scanned" -> "count",
      "bytes_scanned" -> "bytes", "rows_scanned_per_row_returned" -> "ratio",
      "write_amp" -> "ratio", "space_amp" -> "ratio")
      .map { case (n, u) => s"delta.$n" -> u } ++
    Seq("lookup_s", "join_agg_s", "topk_s", "asof_s", "plan_s",
      "scan_p50_s", "scan_tail_s").map(n => s"query.$n" -> "s") ++
    Seq("signature_s" -> "s", "candidates_s" -> "s", "cc_s" -> "s",
      "candidate_pairs" -> "count", "true_pairs" -> "count", "dedup_s" -> "s")
      .map { case (n, u) => s"dedup.$n" -> u } ++
    CorpusGraph.GraphOps.flatMap(op => Seq(s"graph.${op}_s" -> "s",
      s"graph.${op}_driver_s" -> "s", s"graph.${op}_jobs" -> "count")) ++
    Seq("graph.graph_s" -> "s") ++
    Seq("batches" -> "count", "rows_per_batch" -> "count",
      "latestOffset_ms" -> "ms", "getBatch_ms" -> "ms", "addBatch_ms" -> "ms",
      "walCommit_ms" -> "ms", "commitOffsets_ms" -> "ms", "trigger_ms" -> "ms",
      "backlog_max" -> "count", "gen_late_s" -> "s",
      "event_latency_p50_s" -> "s", "event_latency_tail_s" -> "s",
      "drain_events_per_s" -> "1/s").map { case (n, u) => s"stream.$n" -> u } ++
    Seq("trace.op_p50_s" -> "s", "trace.op_tail_s" -> "s", "trace.bulk_p50_s" -> "s",
      "trace.rate_per_s" -> "1/s")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "heap_peak_mb" -> "MB", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "bulk_p50_s" -> "s", "rate_per_s" -> "1/s")

  /** A fixed pure-JVM loop; its time tells the box's fast regime from its
    * slow one, so wall times can be read next to it.
    */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toInt
    val trace = arg(args, "trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val probeMs = cpuProbeMs()
    val spark = graft.GraftSession.builder(cores)
      .config("spark.local.dir", s"${arg(args, "work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, seed, seconds, arg(args, "work"), cores,
      new Tracer(trace), listener)
    println(s"""{"stamp":{"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
      s""""trace":${if (trace) 1 else 0},"nproc":$cores,""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""heap_flag":"${arg(args, "heap")}","git_sha":"${arg(args, "git-sha")}",""" +
      s""""src_sha":"${arg(args, "src-sha")}","spark":"${spark.version}",""" +
      s""""cpu_probe_ms":${json(probeMs)}}}""")
    val out = workload match {
      case "replica" => ReplicaWorkload.run(ctx)
      case "corpus_graph" => CorpusGraph.run(ctx)
    }
    Heap.gcAndSample()
    val correct = out.failed == 0 && out.opS.nonEmpty && out.bulkS.nonEmpty
    val (tailV, tailP) =
      if (out.opS.isEmpty) (0.0, 0.0) else Stats.tail(out.opS)
    val p50 = Stats.medianOr0(out.opS)
    val bulk = Stats.medianOr0(out.bulkS)
    println((Seq(s""""ops":${out.opS.size}""", s""""bulk_ops":${out.bulkS.size}""", s""""op_tail_percentile":${json(tailP)}""",
      s""""setup_runs_s":[${out.setupS.map(json).mkString(",")}]""",
      s""""bulk_runs_s":[${out.bulkS.map(json).mkString(",")}]""") ++
      out.detail.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${json(v)}""" })
      .mkString("""{"detail":{""", ",", "}}"))
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val v = Map("setup_s" -> Stats.median(out.setupS),
          "heap_peak_mb" -> Heap.peakMb, "op_p50_s" -> p50, "op_tail_s" -> tailV,
          "bulk_p50_s" -> bulk, "rate_per_s" -> out.rate)
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val v = out.layers ++ Map("trace.op_p50_s" -> p50, "trace.op_tail_s" -> tailV,
          "trace.bulk_p50_s" -> bulk, "trace.rate_per_s" -> out.rate)
        PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
      }
    if (trace)
      ctx.tracer.write(arg(args, "trace-out"), listener.get.finished())
    println(s"""{"correct":$correct,"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{""" +
      metrics.map { case (n, u, v) => s""""$n":{"value":${json(v)},"unit":"$u"}""" }
        .mkString(",") + "}}")
    spark.stop()
    // run.py turns an incorrect result into a non-zero exit after printing it
    System.exit(0)
  }
}
