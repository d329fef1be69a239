package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{Pipeline, TopoSort}

/** Seeded value streams: the same (seed, stream, index) always gives the
  * same 64-bit value, on the driver and inside Spark tasks alike.
  */
object Mix {
  def h(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mod(seed: Long, stream: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, stream, i), n)
}

/** One source table of the FK schema: key, a foreign key or attribute
  * `a`, a measure `b`, a short string `s`, and the CDC columns. The
  * columns double as the generator's expected replica state: values are
  * the latest version of each key, `deleted` its soft-delete flag, and
  * `present` whether the replica holds the key at all (a row born
  * deleted in the initial load never reaches it).
  */
final class Tbl(val name: String, val idx: Int, val cols: Seq[String],
                val vocab: Array[String], val parent: Option[Tbl], val n0: Int) {
  val a, b, created, updated = new ArrayBuffer[Long]()
  val s = new ArrayBuffer[Int]()
  val deleted, present = new ArrayBuffer[Boolean]()
  def n: Int = a.size
  def key: String = cols.head
  def schema: StructType = StructType(Seq(
    StructField(cols(0), LongType, nullable = false),
    StructField(cols(1), LongType), StructField(cols(2), LongType),
    StructField(cols(3), StringType),
    StructField("created_at", TimestampType), StructField("updated_at", TimestampType),
    StructField("is_deleted", StringType)))
  def row(k: Int): Row = Row(k.toLong, a(k), b(k), vocab(s(k)), new Timestamp(created(k)),
    if (updated(k) < 0) null else new Timestamp(updated(k)), if (deleted(k)) "Y" else "N")
  def spec: Pipeline.TableSpec = Pipeline.TableSpec(name, Seq(key))
}

/** A seeded customer → orders → lineitem source (three tables on three
  * topological levels) written as parquet change logs, plus the expected
  * soft-delete replica state, maintained without graft's merge code.
  *
  * Each cycle lands one parquet file per table holding ~1 % of its rows
  * as changes: inserts (new keys, FKs pointing at existing parents),
  * updates (80 % of them on the most recent 2 % of keys — order-status
  * style) and soft deletes (only of keys older than the cycle, so the
  * replica's per-cycle latest-per-key merge and the generator's
  * row-by-row bookkeeping agree).
  */
final class FkSource(spark: SparkSession, seed: Long, root: String,
                     nCust: Int, nOrd: Int, nLine: Int) {
  val T0 = 1700000000000L
  val customer = new Tbl("customer", 1, Seq("c_id", "c_nation", "c_balance", "c_segment"),
    Array("AUTO", "BUILD", "FURN", "HOUSE", "MACH"), None, nCust)
  val orders = new Tbl("orders", 2, Seq("o_id", "o_custkey", "o_amount", "o_status"),
    Array("O", "P", "F"), Some(customer), nOrd)
  val lineitem = new Tbl("lineitem", 3, Seq("l_id", "l_orderkey", "l_price", "l_shipmode"),
    Array("AIR", "MAIL", "RAIL", "SHIP", "TRUCK"), Some(orders), nLine)
  val tables: Seq[Tbl] = Seq(customer, orders, lineitem)
  val fkEdges: Seq[(String, String)] = Seq("customer" -> "orders", "orders" -> "lineitem")
  def dir(t: Tbl): String = s"$root/${t.name}"
  var cycle = 0

  /** Initial values of row k: (a, b, s, born deleted). */
  private def initial(t: Tbl, k: Long): (Long, Long, Int, Boolean) = {
    val sd = seed; val ti = t.idx
    val a = t.parent.map(p => Mix.mod(sd, ti * 10 + 1, k, p.n0))
      .getOrElse(Mix.mod(sd, ti * 10 + 1, k, 25))
    (a, Mix.mod(sd, ti * 10 + 2, k, 100000), Mix.mod(sd, ti * 10 + 3, k, t.vocab.length).toInt,
      Mix.mod(sd, ti * 10 + 4, k, 200) == 0)
  }

  /** Write every table's initial rows (in Spark tasks) and mirror them. */
  def writeInitial(): Unit = tables.foreach { t =>
    (0 until t.n0).foreach { k =>
      val (a, b, s, del) = initial(t, k)
      t.a += a; t.b += b; t.s += s; t.created += T0 + k; t.updated += -1L
      t.deleted += del; t.present += !del
    }
    val (sd, ti, n0, vocab) = (seed, t.idx, t.n0, t.vocab)
    val parentN = t.parent.map(_.n0).getOrElse(25)
    spark.range(0, n0, 1, math.max(1, spark.sparkContext.defaultParallelism))
      .map { k =>
        val i = k.longValue
        Row(i, Mix.mod(sd, ti * 10 + 1, i, parentN), Mix.mod(sd, ti * 10 + 2, i, 100000),
          vocab(Mix.mod(sd, ti * 10 + 3, i, vocab.length).toInt), new Timestamp(1700000000000L + i),
          null, if (Mix.mod(sd, ti * 10 + 4, i, 200) == 0) "Y" else "N")
      }(Encoders.row(t.schema))
      .write.parquet(dir(t))
  }

  /** Generate and land the next cycle's changes; returns, per table, the
    * change rows written, the distinct keys they touch, the bytes landed
    * and the largest change time.
    */
  def landCycle(frac: Double, only: Seq[Tbl] = tables): Seq[(Tbl, Int, Int, Long, Long)] = {
    cycle += 1
    val tc = T0 + 3600000L * cycle
    only.map { t =>
      val rnd = new scala.util.Random(Mix.h(seed, 1000 + t.idx, cycle))
      val before = t.n
      val nIns = math.max(1, (t.n0 * frac * 0.4).toInt)
      val nUpd = math.max(1, (t.n0 * frac * 0.5).toInt)
      val nDel = math.max(1, (t.n0 * frac * 0.1).toInt)
      val rows = new ArrayBuffer[Row]()
      val touched = scala.collection.mutable.HashSet[Int]()
      var ev = 0
      def stamp(): Long = { ev += 1; tc + ev }
      // interleave the three kinds so keys see several versions per cycle
      val kinds = rnd.shuffle(Seq.fill(nIns)(0) ++ Seq.fill(nUpd)(1) ++ Seq.fill(nDel)(2))
      kinds.foreach {
        case 0 =>
          val k = t.n
          t.a += t.parent.map(p => rnd.nextInt(p.n).toLong).getOrElse(rnd.nextInt(25).toLong)
          t.b += rnd.nextInt(100000).toLong; t.s += rnd.nextInt(t.vocab.length)
          t.created += stamp(); t.updated += -1L; t.deleted += false; t.present += true
          rows += t.row(k); touched += k
        case 1 =>
          val window = math.max(1, t.n / 50)
          var k = if (rnd.nextDouble() < 0.8) t.n - 1 - rnd.nextInt(window) else rnd.nextInt(t.n)
          var tries = 0
          while (t.deleted(k) && tries < 20) { k = rnd.nextInt(t.n); tries += 1 }
          if (!t.deleted(k)) {
            t.b(k) = rnd.nextInt(100000).toLong; t.s(k) = rnd.nextInt(t.vocab.length)
            t.updated(k) = stamp()
            rows += t.row(k); touched += k
          }
        case _ =>
          var k = rnd.nextInt(before)
          var tries = 0
          while (t.deleted(k) && tries < 20) { k = rnd.nextInt(before); tries += 1 }
          if (!t.deleted(k)) {
            t.deleted(k) = true; t.updated(k) = stamp()
            rows += t.row(k); touched += k
          }
      }
      def files() = Stats.listSizes(java.nio.file.Paths.get(dir(t))).filter(_._1.endsWith(".parquet"))
      val ls0 = files()
      spark.createDataFrame(rows.asJava, t.schema).coalesce(1)
        .write.mode("append").parquet(dir(t))
      val landed = Stats.bytesAdded(ls0, files())
      (t, rows.size, touched.size, landed, tc + ev)
    }
  }

  def read(t: Tbl): DataFrame = spark.read.parquet(dir(t))

  /** The expected replica of `t`, built from the generator's state. */
  def expected(t: Tbl): DataFrame =
    spark.createDataFrame((0 until t.n).filter(t.present).map(t.row).asJava, t.schema)

  val levels: Int = TopoSort.levels(tables.map(_.name), fkEdges).map(_._2).max + 1
}

object Fingerprint {
  /** Row count and an order-free hash sum over `cols` (plain Spark). */
  def of(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }
}
