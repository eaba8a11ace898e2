package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ysb.Model

/** A piecewise-constant rate schedule: rung k offers `rates(k)` rows/s for
  * `durationsMs(k)`. Time is in microseconds from the stream's start.
  * Row i is scheduled at `schedUs(i)`; `rowsDue(t)` counts the rows
  * scheduled at or before t, so `schedUs(i) <= t` exactly when
  * `i < rowsDue(t)`. */
final case class Schedule(rates: Seq[Long], durationsMs: Seq[Long]) {
  require(rates.nonEmpty && rates.size == durationsMs.size, "one duration per rate")
  require(rates.forall(_ > 0) && durationsMs.forall(_ > 0), "rates and durations > 0")

  private val rate: Array[Long] = rates.toArray
  private val rungRows: Array[Long] =
    rates.zip(durationsMs).map { case (r, d) => r * d / 1000L }.toArray
  /** First row and start time of each rung, plus one entry past the end. */
  val startRow: Array[Long] = rungRows.scanLeft(0L)(_ + _)
  val startUs: Array[Long] = durationsMs.map(_ * 1000L).scanLeft(0L)(_ + _).toArray
  def totalRows: Long = startRow.last
  def totalUs: Long = startUs.last

  def rungOfRow(i: Long): Int = {
    var k = 0
    while (k < rate.length - 1 && i >= startRow(k + 1)) k += 1
    k
  }

  /** Scheduled time of row i, given the rung k it lies in. */
  def schedUs(i: Long, k: Int): Long =
    startUs(k) + Math.floorDiv((i - startRow(k)) * 1000000L, rate(k))

  def schedUs(i: Long): Long = schedUs(i, rungOfRow(i))

  def rowsDue(tUs: Long): Long = {
    if (tUs < 0) return 0L
    if (tUs >= totalUs) return totalRows
    var k = 0
    while (tUs >= startUs(k + 1)) k += 1
    // rows j of rung k with floor(j * 1e6 / rate) <= t - start: j < (t - start + 1) * rate / 1e6
    val inRung = ((tUs - startUs(k) + 1) * rate(k) + 999999L) / 1000000L
    startRow(k) + math.min(rungRows(k), inRung)
  }

  /** [lo, hi) cut at rung boundaries into about `parts` ranges per rung. */
  def split(lo: Long, hi: Long, parts: Int): Array[RowRange] =
    (0 until rate.length).toArray.flatMap { k =>
      val a = math.max(lo, startRow(k))
      val b = math.min(hi, startRow(k + 1))
      if (b <= a) Array.empty[RowRange]
      else {
        val per = math.max(1L, (b - a + parts - 1) / parts)
        (a until b by per).map(x => RowRange(x, math.min(b, x + per), k)).toArray
      }
    }

  def encode: String = rates.zip(durationsMs).map { case (r, d) => s"$r:$d" }.mkString(",")
}

object Schedule {
  def decode(s: String): Schedule = {
    val parts = s.split(",").map(_.split(":")).map(a => (a(0).toLong, a(1).toLong))
    Schedule(parts.map(_._1).toSeq, parts.map(_._2).toSeq)
  }
}

/** YSB event row i as a pure function of (seed, i, schedule): ad, event and
  * ad type cycle with seed-chosen phases, and `event_time` is the row's
  * scheduled creation time on a fixed epoch, so the stream's content never
  * depends on when it was read. */
final case class EventGen(seed: Long, sched: Schedule, nAds: Int = 1000) {
  val adPhase: Long = Math.floorMod(seed * 7919L, nAds.toLong)
  val eventPhase: Long = Math.floorMod(seed, 3L)
  val typePhase: Long = Math.floorMod(seed, 5L)

  def ad(i: Long): Int = ((i + adPhase) % nAds).toInt
  def isView(i: Long): Boolean = (i + eventPhase) % 3 == 0
  def eventTimeUs(i: Long): Long = EventGen.BaseUs + sched.schedUs(i)

  /** View events per campaign among rows [lo, hi); campaign c owns ads
    * [10c, 10c + 10), as in `Gen.campaigns`. The row pattern repeats every
    * `period` rows, so whole periods are counted once and multiplied. */
  def viewsPerCampaign(lo: Long, hi: Long): Array[Long] = {
    val adsPerCampaign = 10
    val period = 3L * nAds
    def brute(a: Long, b: Long): Array[Long] = {
      val out = new Array[Long](nAds / adsPerCampaign)
      var i = a
      while (i < b) {
        if (isView(i)) out(ad(i) / adsPerCampaign) += 1
        i += 1
      }
      out
    }
    val whole = (hi - lo) / period
    val one = brute(lo, lo + period)
    val rest = brute(lo + whole * period, hi)
    one.indices.map(c => one(c) * whole + rest(c)).toArray
  }

  def encode: String = s"$seed;$nAds;${sched.encode}"
}

object EventGen {
  /** 2024-01-01T00:00:00Z, aligned to every window length used. */
  val BaseUs: Long = 1704067200000000L

  def decode(s: String): EventGen = {
    val Array(seed, nAds, sched) = s.split(";")
    EventGen(seed.toLong, Schedule.decode(sched), nAds.toInt)
  }
}

/** Open-loop YSB source. Its offsets come due on the wall clock: a
  * micro-batch gets every row scheduled up to the moment Spark asks, so a
  * slow batch makes the next one larger and never slows the schedule.
  * Options: `gen` (an encoded [[EventGen]]), `startMs` (wall-clock start of
  * the schedule), `partitions`. Also readable as a bounded batch of the
  * first `rows` rows, to time the generator alone. */
class OpenLoopProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Model.eventSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OpenLoopTable
}

final class OpenLoopTable extends Table with SupportsRead {
  override def name(): String = "perfbench_open_loop"
  override def schema(): StructType = Model.eventSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      private val gen = EventGen.decode(o.get("gen"))
      private val parts = o.getInt("partitions", 4)
      override def build(): Scan = this
      override def readSchema(): StructType = Model.eventSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new OpenLoopStream(gen, parts, o.getLong("startMs", 0L) * 1000L,
          () => System.currentTimeMillis() * 1000L)
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          gen.sched.split(0L, math.min(gen.sched.totalRows, o.getLong("rows", 0L)), parts).toArray
        override def createReaderFactory(): PartitionReaderFactory =
          new OpenLoopReaderFactory(gen.encode)
      }
    }
}

final case class RowOffset(rows: Long) extends Offset {
  override def json(): String = rows.toString
}

/** Rows [start, end), all in rung `rung` of the schedule. */
final case class RowRange(start: Long, end: Long, rung: Int) extends InputPartition

/** `clockUs` is the wall clock in µs; `startUs` is the schedule's start on
  * that clock. */
final class OpenLoopStream(gen: EventGen, partitions: Int, startUs: Long,
    clockUs: () => Long) extends MicroBatchStream {
  override def initialOffset(): Offset = RowOffset(0L)
  override def latestOffset(): Offset = RowOffset(gen.sched.rowsDue(clockUs() - startUs))
  override def deserializeOffset(json: String): Offset = RowOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    gen.sched.split(start.asInstanceOf[RowOffset].rows,
      end.asInstanceOf[RowOffset].rows, partitions).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new OpenLoopReaderFactory(gen.encode)
}

final class OpenLoopReaderFactory(genSpec: String) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val RowRange(lo, hi, k) = p.asInstanceOf[RowRange]
    val gen = EventGen.decode(genSpec)
    val ads = (0 until gen.nAds).map(a => UTF8String.fromString(s"ad$a")).toArray
    val adTypes = Model.adTypes.map(UTF8String.fromString).toArray
    val eventTypes = Model.eventTypes.map(UTF8String.fromString).toArray
    new PartitionReader[InternalRow] {
      private var i = lo - 1
      // the cycles of row i, stepped one row at a time
      private var ad = gen.ad(lo) - 1
      private var adType = ((lo + gen.typePhase) % adTypes.length).toInt - 1
      private var eventType = ((lo + gen.eventPhase) % eventTypes.length).toInt - 1
      private val row = new GenericInternalRow(7)
      row.update(0, UTF8String.fromString("user0"))
      row.update(1, UTF8String.fromString("page0"))
      row.update(6, UTF8String.fromString("255.255.255.255"))
      override def next(): Boolean = {
        i += 1
        ad += 1; if (ad == ads.length) ad = 0
        adType += 1; if (adType == adTypes.length) adType = 0
        eventType += 1; if (eventType == eventTypes.length) eventType = 0
        i < hi
      }
      override def get(): InternalRow = {
        row.update(2, ads(ad))
        row.update(3, adTypes(adType))
        row.update(4, eventTypes(eventType))
        row.setLong(5, EventGen.BaseUs + gen.sched.schedUs(i, k))
        row
      }
      override def close(): Unit = ()
    }
  }
}
