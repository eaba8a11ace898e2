package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {

  private val sched = Schedule(Seq(1000L, 250000L, 3000000L), Seq(1500L, 2000L, 700L))

  test("a row is due exactly from its scheduled time") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map(_ => (rnd.nextDouble() * sched.totalRows).toLong) ++
      sched.startRow.init.toSeq ++ sched.startRow.tail.map(_ - 1).toSeq
    for (i <- rows) {
      val t = sched.schedUs(i)
      assert(sched.rowsDue(t) > i, s"row $i not due at its time $t")
      assert(sched.rowsDue(t - 1) <= i, s"row $i due before its time $t")
    }
  }

  test("rows come due at the scheduled rate, rung by rung") {
    assert(sched.rowsDue(-1) == 0)
    assert(sched.rowsDue(0) == 1)
    assert(sched.rowsDue(1500000L - 1) == 1500)
    assert(sched.rowsDue(1500000L + 1000000L - 1) == 1500 + 250000)
    assert(sched.rowsDue(sched.totalUs) == sched.totalRows)
    assert(sched.totalRows == 1500 + 500000 + 2100000)
    val due = (0L to sched.totalUs by 997L).map(sched.rowsDue)
    assert(due.zip(due.tail).forall { case (a, b) => a <= b })
  }

  test("the schedule survives encoding") {
    assert(Schedule.decode(sched.encode) == sched)
    val gen = EventGen(42, sched)
    assert(EventGen.decode(gen.encode) == gen)
  }

  /** Offsets follow the wall clock alone: a slow batch leaves the schedule
    * where it was, and the next batch takes every row that came due. */
  test("the open-loop offsets do not slow when batches slow") {
    var nowUs = 0L
    val startUs = 5000000L
    val stream = new OpenLoopStream(EventGen(1, sched), 4, startUs, () => nowUs)
    def offsetAt(t: Long): Long = { nowUs = startUs + t; stream.latestOffset().asInstanceOf[RowOffset].rows }
    // batches every 100 ms ...
    val fast = (1 to 30).map(k => offsetAt(k * 100000L))
    // ... and the same clock read by a stream whose batches take 1.3 s
    val slow = (1 to 2).map(k => offsetAt(k * 1300000L))
    assert(fast(12) == sched.rowsDue(1300000L))
    assert(slow.head == fast(12) && slow(1) == fast(25))
    // a batch that starts late covers everything due since the last one
    val parts = stream.planInputPartitions(RowOffset(fast(0)), RowOffset(slow(1)))
    val rows = parts.map { case RowRange(a, b, _) => b - a }.sum
    assert(rows == slow(1) - fast(0))
  }

  test("the reader emits row i as the generator's pure function of i") {
    val gen = EventGen(5, sched)
    val lo = sched.startRow(1) - 700
    val hi = sched.startRow(1) + 1300
    val parts = sched.split(lo, hi, 3)
    assert(parts.map(_.rung).toSet == Set(0, 1))
    assert(parts.map(p => p.end - p.start).sum == hi - lo)
    val factory = new OpenLoopReaderFactory(gen.encode)
    for (p <- parts) {
      val r = factory.createReader(p)
      var i = p.start
      while (r.next()) {
        val row = r.get()
        assert(row.getUTF8String(2).toString == s"ad${gen.ad(i)}")
        assert((row.getUTF8String(4).toString == "view") == gen.isView(i))
        assert(row.getLong(5) == gen.eventTimeUs(i))
        i += 1
      }
      assert(i == p.end)
    }
  }

  test("event time is the scheduled creation time on the fixed epoch") {
    val gen = EventGen(3, sched)
    assert(gen.eventTimeUs(0) == EventGen.BaseUs)
    assert(gen.eventTimeUs(1500) == EventGen.BaseUs + 1500000L)
    assert(gen.eventTimeUs(1501) == EventGen.BaseUs + 1500000L + 4)
  }

  test("closed-form view counts equal a row-by-row count") {
    val gen = EventGen(11, sched)
    for ((lo, hi) <- Seq((0L, 1L), (17L, 12345L), (2999L, 9001L), (100000L, 107777L))) {
      val brute = new Array[Long](100)
      for (i <- lo until hi if gen.isView(i)) brute(gen.ad(i) / 10) += 1
      assert(gen.viewsPerCampaign(lo, hi).toSeq == brute.toSeq, s"[$lo, $hi)")
    }
  }

  test("the seed changes the rows, not the schedule") {
    val a = EventGen(1, sched)
    val b = EventGen(2, sched)
    assert((0L until 100L).exists(i => a.ad(i) != b.ad(i) || a.isView(i) != b.isView(i)))
    assert((0L until 100L).forall(i => a.eventTimeUs(i) == b.eventTimeUs(i)))
  }
}
