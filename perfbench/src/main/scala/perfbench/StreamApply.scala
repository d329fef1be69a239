package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.sources.{DeltaLog, DeltaWrite}
import graft.streaming.{KafkaBusServer, KafkaWire}

/** Keyed change records and the replica state they must produce. Keys
  * start as `preload` live rows; an event inserts a new key, updates a
  * live one (mostly recent keys) or soft-deletes a preloaded one, and
  * carries a per-key version so the newest change wins inside a batch.
  * Deletes never hit keys inserted by the stream, so the per-batch
  * latest-per-key merge and this row-by-row bookkeeping agree.
  */
final class ChangeGen(seed: Long, val preload: Int) {
  private val rnd = new scala.util.Random(Mix.h(seed, 700, 0))
  val amount = ArrayBuffer.tabulate(preload)(k => Mix.mod(seed, 701, k, 100000))
  val ver = ArrayBuffer.fill(preload)(0L)
  val deleted = ArrayBuffer.fill(preload)(false)
  def keys: Int = amount.size

  /** The next event as (key, CSV value without the send time). */
  def next(): (Long, String) = {
    val p = rnd.nextDouble()
    val k =
      if (p < 0.25) {
        amount += 0L; ver += 0L; deleted += false; keys - 1
      } else if (p < 0.9) {
        var k = if (rnd.nextDouble() < 0.8) keys - 1 - rnd.nextInt(math.max(1, keys / 20))
          else rnd.nextInt(keys)
        while (deleted(k)) k = rnd.nextInt(keys)
        k
      } else {
        var k = rnd.nextInt(preload)
        var tries = 0
        while (deleted(k) && tries < 50) { k = rnd.nextInt(preload); tries += 1 }
        if (!deleted(k)) deleted(k) = true
        k
      }
    amount(k) = rnd.nextInt(100000).toLong
    ver(k) += 1
    (k.toLong, s"$k,${ver(k)},${amount(k)},${if (deleted(k)) "Y" else "N"}")
  }

  def row(k: Int): Row = Row(k.toLong, amount(k), ver(k), if (deleted(k)) "Y" else "N")
}

/** The streaming phase of the `replica` workload: one generator sends
  * keyed change records over the Kafka wire to an in-process
  * `KafkaBusServer`, open loop at a fixed rate below saturation, each
  * stamped with its scheduled send time. A structured stream reads them
  * through `KafkaWireProvider` and, per micro-batch, applies
  * `Cdc.latestPerKey` plus `DeltaWrite.merge`. Each event is timed from
  * its scheduled send to the return of the merge that committed it. A
  * second phase lands a backlog at once and times its drain.
  */
object StreamApply {
  val Preload = 5000
  val Rate = 300 // events per second
  val Partitions = 4
  val TickMs = 10
  val Backlog = 4500
  val MaxPerTrigger = 1500
  val Topic = "cdc"
  val Schema: StructType = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("amount", LongType), StructField("ver", LongType),
    StructField("is_deleted", StringType)))

  /** One broker, table and running query: what a set-up builds. */
  final class Rig(ctx: Ctx, i: Int) {
    val gen = new ChangeGen(ctx.seed, Preload)
    val broker: KafkaBusServer.Handle = KafkaBusServer.serve(null, Topic, emptyPartitions = Partitions)
    val table: String = ctx.dir(s"stream-table-$i")
    private val client = new KafkaWire.Client("127.0.0.1", broker.port)
    val produced = new AtomicLong(0)
    val applied = new AtomicLong(0)
    /** Send-to-commit seconds of each applied record, while timing is on. */
    val latencies = new ConcurrentLinkedQueue[Double]()
    val batchRows = new ConcurrentLinkedQueue[Int]()
    @volatile var timing = false
    @volatile var error: Option[Throwable] = None
    var query: StreamingQuery = _

    DeltaWrite.create(ctx.spark, table,
      ctx.spark.createDataFrame((0 until Preload).map(gen.row).asJava, Schema).repartition(ctx.cores))

    /** Produce (key, value, scheduled send ns) records, one request per partition. */
    def send(events: Seq[(Long, String, Long)]): Unit = {
      events.groupBy { case (k, _, _) => KafkaWire.partitionForKey(k.toString.getBytes(UTF_8), Partitions) }
        .foreach { case (pt, es) =>
          client.produceKeyed(Topic, pt, es.map { case (k, v, sched) =>
            (k.toString.getBytes(UTF_8), s"$v,$sched".getBytes(UTF_8)) })
        }
      produced.addAndGet(events.size)
    }

    def sendNow(n: Int): Unit = {
      val now = ctx.tracer.now()
      send(Seq.fill(n) { val (k, v) = gen.next(); (k, v, now) })
    }

    def applyBatch(batch: DataFrame): Unit = {
      val parsed = batch.select(split(col("value"), ",").as("f")).select(
        col("f")(0).cast("long").as("k"), col("f")(1).cast("long").as("ver"),
        col("f")(2).cast("long").as("amount"), col("f")(3).as("is_deleted"),
        col("f")(4).cast("long").as("sched")).persist()
      val keys = parsed.select("k", "sched").collect()
      if (keys.nonEmpty) {
        val staged = Cdc.latestPerKey(parsed, Seq("k"), Seq(col("ver")))
          .select("k", "amount", "ver", "is_deleted")
        DeltaWrite.merge(ctx.spark, table, staged, Seq("k"),
          insertFilter = Some(col(Cdc.IsDeleted) === "N"))
        val done = ctx.tracer.now()
        if (timing) keys.foreach(r => latencies.add((done - r.getLong(1)) / 1e9))
        batchRows.add(keys.length)
        applied.addAndGet(keys.length)
      }
      parsed.unpersist()
    }

    def start(): Unit = {
      query = ctx.spark.readStream.format("graft.streaming.KafkaWireProvider")
        .option("host", "127.0.0.1").option("port", broker.port.toString)
        .option("topic", Topic).option("maxRowsPerTrigger", MaxPerTrigger.toString).load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          try applyBatch(b) catch { case e: Throwable => error = Some(e); throw e }
        }
        .option("checkpointLocation", ctx.dir(s"stream-ckpt-$i"))
        .trigger(Trigger.ProcessingTime(0))
        .start()
    }

    /** Wait until every produced record is applied (false on timeout or error). */
    def awaitApplied(timeoutS: Double): Boolean = {
      val end = ctx.deadlineAfterNs(timeoutS)
      while (applied.get < produced.get && error.isEmpty && System.nanoTime() < end)
        Thread.sleep(5)
      applied.get == produced.get && error.isEmpty
    }

    def close(): Unit = {
      if (query != null) query.stop()
      client.close()
      broker.close()
    }
  }

  /** What [[measure]] hands back: the open loop's event latencies, the
    * drain rate, and the phase's own counts.
    */
  final case class Result(latencies: Seq[Double], drainRate: Double,
                          attempted: Long, failed: Long, detail: Map[String, Double],
                          layers: Map[String, Double])

  /** Build a rig and push one warm-up batch through it: a set-up step. */
  def setUp(ctx: Ctx, i: Int): (Rig, Boolean) = {
    val rig = new Rig(ctx, i)
    rig.start()
    rig.sendNow(200)
    (rig, rig.awaitApplied(60))
  }

  /** Run the open loop for `openS` seconds, then the backlog drain, then
    * check the table against the generator and stop the rig.
    */
  def measure(ctx: Ctx, rig: Rig, openS: Double): Result = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val progress = new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()
    val progressRows = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          progress.add(e.progress.durationMs); progressRows.add(e.progress.numInputRows)
        }
    }
    spark.streams.addListener(listener)
    var attempted, failed = 0L
    rig.batchRows.clear()

    // open loop: event j is due at t0 + j / Rate, sent on the next tick
    val late = new ArrayBuffer[Double]()
    var backlogMax = 0L
    rig.timing = true
    val tStart = tr.now()
    val total = (openS * Rate).toLong
    var sent = 0L
    while (sent < total && rig.error.isEmpty) {
      val now = tr.now()
      val due = math.min(total, ((now - tStart) / 1e9 * Rate).toLong + 1)
      if (due > sent) {
        // every record of the tick carries its own scheduled time
        rig.send((sent until due).map { j =>
          val (k, v) = rig.gen.next(); (k, v, tStart + (j * 1e9 / Rate).toLong)
        })
        late += (tr.now() - (tStart + (sent * 1e9 / Rate).toLong)) / 1e9
        sent = due
      }
      backlogMax = math.max(backlogMax, rig.produced.get - rig.applied.get)
      Thread.sleep(TickMs)
    }
    if (!rig.awaitApplied(60)) failed += 1
    rig.timing = false
    val batchesOpen = rig.batchRows.size

    // burst: land a backlog at once, time until it is applied
    val b0 = System.nanoTime()
    rig.sendNow(Backlog)
    val drained = rig.awaitApplied(90)
    val drainS = (System.nanoTime() - b0) / 1e9
    if (!drained) failed += 1
    attempted += 2
    rig.query.stop()
    rig.error.foreach { e => println(s"[stream] batch failed: $e") }

    // the table must equal the generator's state
    val cols = Schema.fieldNames.toSeq
    val ok = Fingerprint.of(DeltaLog.read(spark, rig.table).select(cols.map(col): _*), cols) ==
      Fingerprint.of(spark.createDataFrame((0 until rig.gen.keys).map(rig.gen.row).asJava, Schema), cols)
    attempted += 1
    if (!ok) {
      failed += 1
      println("[stream] table differs from the expected state")
    }
    val lat = rig.latencies.asScala.toSeq
    // every event is attempted once; a lost or failed event yields no timing
    attempted += total
    failed += math.max(0L, total - lat.size)
    val drainRate = if (drained) Backlog / drainS else 0.0
    val detail = Map("event_latency_p50_s" -> Stats.medianOr0(lat),
      "event_latency_tail_s" -> Stats.tailOr0(lat), "drain_events_per_s" -> drainRate,
      "drain_s" -> drainS, "gen_late_max_s" -> (if (late.isEmpty) 0.0 else late.max),
      "batches_open" -> batchesOpen.toDouble, "events" -> lat.size.toDouble)
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val durs = progress.asScala.toSeq
      def phase(k: String): Double =
        Stats.medianOr0(durs.flatMap(d => Option(d.get(k)).map(_.toDouble)))
      Map(
        "stream.batches" -> rig.batchRows.size.toDouble,
        "stream.rows_per_batch" -> Stats.medianOr0(progressRows.asScala.toSeq.map(_.toDouble)),
        "stream.latestOffset_ms" -> phase("latestOffset"),
        "stream.getBatch_ms" -> phase("getBatch"),
        "stream.addBatch_ms" -> phase("addBatch"),
        "stream.walCommit_ms" -> phase("walCommit"),
        "stream.commitOffsets_ms" -> phase("commitOffsets"),
        "stream.trigger_ms" -> phase("triggerExecution"),
        "stream.backlog_max" -> backlogMax.toDouble,
        "stream.gen_late_s" -> detail("gen_late_max_s"),
        "stream.event_latency_p50_s" -> detail("event_latency_p50_s"),
        "stream.event_latency_tail_s" -> detail("event_latency_tail_s"),
        "stream.drain_events_per_s" -> drainRate)
    }
    rig.close()
    spark.streams.removeListener(listener)
    Result(lat, drainRate, attempted, failed, detail, layers)
  }
}
