package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.plans.GroupedTopK
import graft.sources.DeltaLog

/** `replica`: the reference's CDC loop, keyed changes streamed into a
  * second table, then reads of the replica.
  *
  * Write phase: repeated cycles through `Pipeline.replicateDelta` into a
  * Delta replica (extract by change time, latest-per-key, soft-delete
  * MERGE, watermark advance, parents before children), with no graph,
  * dedup or streaming code. Set-up ends with a checkpoint of every table
  * and the first cycle is a warm-up, so the timed cycles and the reads
  * see a log made of a checkpoint plus a tail of JSON commits.
  *
  * Streaming phase ([[StreamApply]]): keyed changes over the Kafka wire,
  * open loop, applied per micro-batch with `Cdc.latestPerKey` and
  * `DeltaWrite.merge` into a second Delta table, then a backlog drain.
  *
  * Read phase: one closed-loop client against the replica, which no
  * longer changes, so `DeltaLog`'s state memo hits. The mix repeats
  * eight PK point lookups on orders (file skipping through
  * `DeltaLog.read(ranges = …)`) and one scan, rotating through a star
  * join plus aggregate, a grouped top-k (`GroupedTopK`) and an as-of
  * join (`AsOfJoin.strictPriorNative`). A change that helps writes and
  * costs reads, or the reverse, shows in one of the phases.
  *
  * End to end: op = one streamed event (scheduled send to committed),
  * bulk = one `replicateDelta` cycle, rate = streamed backlog events
  * drained per second. Of `--seconds`, the write phase takes 0.2 (at
  * least two timed cycles) and the open loop 0.6; the read phase runs a
  * fixed number of sets of the mix, so every run has the same lookups.
  */
object ReplicaWorkload {
  val Sizes = (1000, 6000, 20000)
  val ChangeFrac = 0.01
  /** The first cycle pays the JVM's one-time compilation of the merge
    * path, which a long-lived replicator pays once; it runs before timing.
    */
  val WarmCycles = 1
  val MinCycles = 2
  val LookupsPerScan = 8
  val ReadSets = 2
  val Scans = Seq("join_agg", "topk", "asof")
  val TopkCols = Seq("o_custkey", "o_id", "rk")
  val AsofCols = Seq("o_custkey", "o_id", "prev_amount")

  private def live(df: DataFrame): DataFrame = df.filter(col("is_deleted") === "N")

  def joinAgg(c: DataFrame, o: DataFrame, l: DataFrame): DataFrame =
    live(l).join(live(o), col("l_orderkey") === col("o_id"))
      .join(live(c), col("o_custkey") === col("c_id"))
      .groupBy("c_nation", "o_status")
      .agg(count(lit(1)).as("n"), sum("l_price").as("revenue"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    var src: FkSource = null
    var target = ""
    var wm = Map.empty[String, Timestamp]
    var attempted, failed = 0L
    def replicate(): Boolean = {
      val (rep, w) = tr.span("cdc.replicateDelta") {
        graft.cdc.Pipeline.replicateDelta(spark, src.tables.map(_.spec), src.fkEdges,
          name => src.read(src.tables.find(_.name == name).get), target, wm)
      }
      attempted += 1
      if (rep.failed > 0) {
        failed += 1
        println(s"[replica] replicateDelta: ${rep.summary} ${rep.results.flatMap(_.error).mkString("; ")}")
      }
      val ok = rep.failed == 0 && src.tables.forall { t =>
        val want = (0 until t.n).map(k => math.max(t.created(k), t.updated(k))).max
        w.get(t.name).exists(_.getTime == want)
      }
      wm = w
      ok
    }
    var rig: StreamApply.Rig = null
    val setups = (1 to 3).map { i =>
      if (rig != null) rig.close()
      val t0 = System.nanoTime()
      src = new FkSource(spark, ctx.seed, ctx.dir(s"src-$i"), Sizes._1, Sizes._2, Sizes._3)
      target = ctx.dir(s"replica-$i")
      wm = Map.empty
      src.writeInitial()
      if (!replicate()) failed += 1
      src.tables.foreach(t => tr.span("delta.checkpoint") {
        DeltaLog.writeCheckpoint(spark, s"$target/${t.name}") })
      val (r, warmOk) = StreamApply.setUp(ctx, i)
      rig = r
      attempted += 1
      if (!warmOk) failed += 1
      (System.nanoTime() - t0) / 1e9
    }
    Heap.gcAndSample()

    // wall clock at each phase boundary, for the detail line
    val marks = ArrayBuffer("setup" -> System.nanoTime())
    // write phase
    val root = java.nio.file.Paths.get(target)
    val cycles, warm = new ArrayBuffer[Double]()
    var changeRows, landedBytes, addedBytes, logAdded = 0L
    val staged, reported, filesAdded, filesRemoved = new ArrayBuffer[Double]()
    val gc0 = Heap.gcNs
    val writeEnd = ctx.deadlineAfterNs(ctx.seconds * 0.2)
    while (System.nanoTime() < writeEnd || cycles.size < MinCycles || warm.size < WarmCycles) {
      val landed = src.landCycle(ChangeFrac)
      val before = Stats.listSizes(root)
      tr.op = warm.size + cycles.size + 1
      val t0 = System.nanoTime()
      val ok = replicate()
      val dt = (System.nanoTime() - t0) / 1e9
      if (!ok) failed += 1
      else if (warm.size < WarmCycles) warm += dt
      else cycles += dt
      if (failed > 3) throw new IllegalStateException("replicateDelta keeps failing")
      val after = Stats.listSizes(root)
      changeRows += landed.map(_._2).sum
      landedBytes += landed.map(_._4).sum
      addedBytes += Stats.bytesAdded(before, after)
      def log(m: Map[String, Long]) = m.filter(_._1.contains("_delta_log"))
      logAdded += Stats.bytesAdded(log(before), log(after))
      if (tr.enabled) {
        staged += landed.map(_._3).sum
        reported += landed.map(_._2).sum
        val commits = after.keySet.diff(before.keySet).filter(_.endsWith(".json")).toSeq
        val lines = commits.flatMap(p => java.nio.file.Files.readAllLines(root.resolve(p)).asScala)
        filesAdded += lines.count(_.startsWith("{\"add\""))
        filesRemoved += lines.count(_.startsWith("{\"remove\""))
        src.tables.foreach(t => tr.span("delta.state") { DeltaLog.state(spark, s"$target/${t.name}") })
      }
    }
    val writeGcNs = Heap.gcNs - gc0
    marks += "write" -> System.nanoTime()
    Heap.gcAndSample()

    // streaming phase
    val stream = StreamApply.measure(ctx, rig, ctx.seconds * 0.6)
    attempted += stream.attempted
    failed += stream.failed
    marks += "stream" -> System.nanoTime()
    Heap.gcAndSample()
    val spaceAmp = Stats.spaceAmp(
      src.tables.flatMap(t => Stats.listSizes(root.resolve(t.name)).map { case (p, n) => s"${t.name}/$p" -> n }).toMap,
      src.tables.flatMap(t => DeltaLog.state(spark, s"$target/${t.name}").files.map(f => s"${t.name}/${f.path}")).toSet)
    attempted += 1
    val expected = src.tables.map(t => t.name -> src.expected(t).cache()).toMap
    val bad = src.tables.filter { t =>
      val cols = t.schema.fieldNames.toSeq
      Fingerprint.of(DeltaLog.read(spark, s"$target/${t.name}").select(cols.map(col): _*), cols) !=
        Fingerprint.of(expected(t.name), cols)
    }
    if (bad.nonEmpty) {
      failed += 1
      println(s"[replica] replica differs from the expected state: ${bad.map(_.name).mkString(",")}")
    }

    marks += "check" -> System.nanoTime()
    // read phase; expected answers come from plain Spark over the generator's snapshot
    val path = Map("c" -> s"$target/customer", "o" -> s"$target/orders", "l" -> s"$target/lineitem")
    def replica(k: String) = DeltaLog.read(spark, path(k))
    val (ec, eo, el) = (expected("customer"), expected("orders"), expected("lineitem"))
    val expJoin = joinAgg(ec, eo, el).collect().map(_.toSeq).toSet
    val expTopk = Fingerprint.of(live(eo)
      .withColumn("rk", row_number().over(Window.partitionBy("o_custkey")
        .orderBy(col("o_amount").desc, col("o_id").asc)).cast("long"))
      .filter(col("rk") <= 3), TopkCols)
    val expAsof = Fingerprint.of(live(eo).withColumn("prev_amount",
      lag(col("o_amount"), 1).over(Window.partitionBy("o_custkey").orderBy("o_id"))), AsofCols)
    def scan(kind: String): Boolean = tr.span(s"query.$kind") {
      kind match {
        case "join_agg" =>
          joinAgg(replica("c"), replica("o"), replica("l")).collect().map(_.toSeq).toSet == expJoin
        case "topk" =>
          Fingerprint.of(GroupedTopK.topK(live(replica("o")), Seq("o_custkey"),
            col("o_amount"), col("o_id"), 3, "rk"), TopkCols) == expTopk
        case _ =>
          val o = live(replica("o"))
          Fingerprint.of(AsOfJoin.strictPriorNative(o.select("o_custkey", "o_id"),
            o.select("o_custkey", "o_id", "o_amount"), "o_custkey", "o_id",
            "o_amount", "prev_amount"), AsofCols) == expAsof
      }
    }
    // each scan kind runs once untimed: its first run compiles its plans
    marks += "expected" -> System.nanoTime()
    tr.op = 999
    Scans.foreach { k =>
      attempted += 1
      if (!scan(k)) { failed += 1; println(s"[replica] warm-up $k returned a wrong result") }
    }
    expected.values.foreach(_.unpersist())
    val orders = src.orders
    val rnd = new scala.util.Random(Mix.h(ctx.seed, 77, 0))
    val lookups, scans, files, bytes = new ArrayBuffer[Double]()
    var queries, returned = 0L
    // whole sets of rounds, each running every scan kind once
    val setSize = (LookupsPerScan + 1) * Scans.size
    marks += "scan_warmup" -> System.nanoTime()
    val readStart = System.nanoTime()
    var i = 0
    while (i < ReadSets * setSize) {
      tr.op = 1000 + i
      val q0 = System.nanoTime()
      val ok =
        if (i % (LookupsPerScan + 1) == LookupsPerScan) {
          val r = scan(Scans((i / (LookupsPerScan + 1)) % Scans.size))
          if (r) scans += (System.nanoTime() - q0) / 1e9
          r
        } else {
          // 90 % of keys exist (some soft-deleted), 10 % lie past the end
          val k = rnd.nextInt((orders.n * 1.1).toInt)
          val ranges = Map("o_id" -> ((k.toLong, k.toLong)))
          if (tr.enabled) {
            val st = tr.span("delta.state") { DeltaLog.state(spark, path("o")) }
            val hit = DeltaLog.filesInRange(st.files, ranges)
            files += hit.size
            bytes += hit.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(path("o"), f.path))).sum
          }
          val q1 = System.nanoTime()
          val got = tr.span("query.lookup") {
            DeltaLog.read(spark, path("o"), ranges = ranges).filter(col("o_id") === k.toLong).collect()
          }
          val dt = (System.nanoTime() - q1) / 1e9
          returned += got.length
          val want = if (k < orders.n && orders.present(k)) Seq(orders.row(k).toSeq) else Seq.empty
          val r = got.map(_.toSeq).toSeq == want
          if (r) lookups += dt
          r
        }
      attempted += 1
      queries += 1
      if (!ok) {
        failed += 1
        println(s"[replica] query $i returned a wrong result")
      }
      i += 1
    }
    val readS = (System.nanoTime() - readStart) / 1e9
    marks += "read" -> System.nanoTime()

    val writeAmp = addedBytes.toDouble / math.max(1L, landedBytes)
    val detail = Map("cycle_p50_s" -> Stats.medianOr0(cycles), "cycles" -> cycles.size.toDouble,
      "cycle_warmup_s" -> warm.sum,
      "write_amp" -> writeAmp, "space_amp" -> spaceAmp, "change_rows" -> changeRows.toDouble,
      "change_rows_per_s" -> changeRows / math.max(1e-9, cycles.sum),
      "lookup_p50_s" -> Stats.medianOr0(lookups), "lookup_tail_s" -> Stats.tailOr0(lookups),
      "scan_p50_s" -> Stats.medianOr0(scans), "scan_tail_s" -> Stats.tailOr0(scans),
      "scans" -> scans.size.toDouble, "queries_per_s" -> queries / readS,
      "replica_rows" -> src.tables.map(_.n).sum.toDouble) ++
      stream.detail ++
      marks.toSeq.sliding(2).map(w => s"phase_${w(1)._1}_s" -> (w(1)._2 - w(0)._2) / 1e9)
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val jobs = ctx.listener.get.finished()
      // times over the timed cycles; counts over every write-phase cycle
      val ops = tr.named("cdc.replicateDelta").filter(o => o.op > WarmCycles && o.op < 1000)
      val n = math.max(1, ops.size).toDouble
      val nAll = math.max(1, warm.size + cycles.size).toDouble
      def jobS(js: Seq[JobRec]) = js.map(j => j.end - j.start).sum / 1e9 / n
      val cdcJobs = Layers.moduleJobs(ops, jobs, _.startsWith("graft.cdc."))
      val mergeJobs = Layers.moduleJobs(ops, jobs,
        Set("graft.sources.DeltaWrite", "graft.sources.DeltaLog"))
      def timedRead(name: String) = tr.named(name).filter(_.op >= 1000)
      val lookupSpans = timedRead("query.lookup")
      val scanSpans = Scans.flatMap(k => timedRead(s"query.$k"))
      val planNs = scanSpans.flatMap(s => Layers.jobsIn(jobs, s).headOption.map(_.start - s.start))
      val scanned = lookupSpans.flatMap(Layers.jobsIn(jobs, _)).map(_.inputRecords).sum
      // the spark.* set covers the write phase: the cycles are the workload's bulk
      Layers.spark(ops, jobs, ctx.cores, writeGcNs, ops.size) ++ Map(
        "cdc.jobs" -> cdcJobs.size / n, "cdc.job_s" -> jobS(cdcJobs),
        "cdc.rows_changed" -> reported.sum / nAll, "cdc.rows_staged" -> staged.sum / nAll,
        "cdc.topo_levels" -> src.levels.toDouble,
        "delta.merge_jobs" -> mergeJobs.size / n, "delta.merge_job_s" -> jobS(mergeJobs),
        "delta.files_added" -> filesAdded.sum / nAll, "delta.files_removed" -> filesRemoved.sum / nAll,
        "delta.bytes_added" -> addedBytes / nAll, "delta.log_bytes" -> logAdded / nAll,
        "delta.checkpoint_s" -> Layers.medianS(tr.named("delta.checkpoint")),
        "delta.state_s" -> Layers.medianS(timedRead("delta.state")),
        "delta.files_scanned" -> Stats.medianOr0(files),
        "delta.bytes_scanned" -> Stats.medianOr0(bytes),
        "delta.rows_scanned_per_row_returned" -> scanned.toDouble / math.max(1L, returned),
        "delta.write_amp" -> writeAmp, "delta.space_amp" -> spaceAmp,
        "query.lookup_s" -> Layers.medianS(lookupSpans),
        "query.join_agg_s" -> Layers.medianS(timedRead("query.join_agg")),
        "query.topk_s" -> Layers.medianS(timedRead("query.topk")),
        "query.asof_s" -> Layers.medianS(timedRead("query.asof")),
        "query.plan_s" -> Stats.medianOr0(planNs.map(_ / 1e9)),
        "query.scan_p50_s" -> detail("scan_p50_s"), "query.scan_tail_s" -> detail("scan_tail_s")) ++
        stream.layers
    }
    Outcome(setups, stream.latencies, cycles.toSeq, stream.drainRate, attempted, failed, detail, layers)
  }
}
