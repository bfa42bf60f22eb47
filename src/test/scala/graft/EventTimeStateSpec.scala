package graft

import graft.streaming.StreamOps
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

/** The keyed twins' shared event-time steps (`StreamOps.settle`,
  * `confirm` and `closeDue`), driven directly through a
  * [[TestGroupState]]: no stream runs.
  */
class EventTimeStateSpec extends AnyFunSuite {

  /** A key's state as a twin sees it under a watermark of `wmSecs`. */
  private def stateAt(wmSecs: Long, s: Option[String] = Some("s")): TestGroupState[String] =
    TestGroupState.create[String](s.fold(Optional.empty[String]())(Optional.of(_)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmSecs * 1000L), false)

  private def timeoutSecs(st: TestGroupState[String]): Option[Long] =
    if (st.getTimeoutTimestampMs.isPresent) Some(st.getTimeoutTimestampMs.get / 1000L) else None

  test("the open-bucket step drops a late point to a closed bucket") {
    val closed = Seq.newBuilder[(Long, Double)]
    // step 600 at watermark 1200: bucket 0 is closed (not open), 600 is
    // open but due, 1200 can still close
    val (open, seen) = StreamOps.closeDue(Map(600L -> 1.0), Iterator(50L, 650L, 1250L),
        wm = 1200L, step = 600L, zero = 0.0)(identity, (n, _) => n + 1) { (b, n) =>
      closed += b -> n
    }
    assert(closed.result() === Seq(600L -> 2.0), "the point at 50 is dropped; 650 folds into open 600")
    assert(open === Map(1200L -> 1.0))
    assert(seen === 1250L)
  }

  test("the open-bucket step closes due buckets in ascending order") {
    // eight buckets: a hash map, whose iteration order is not the key order
    val open = (0 until 8).map(i => (7 - i) * 600L -> i.toDouble).toMap
    val order = Seq.newBuilder[Long]
    val (still, seen) = StreamOps.closeDue(open, Iterator.empty[Long], wm = 3600L,
      step = 600L, zero = 0.0)(identity, (n, _) => n)((b, _) => order += b)
    assert(order.result() === Seq(0L, 600L, 1200L, 1800L, 2400L, 3000L))
    assert(still.keySet === Set(3600L, 4200L))
    assert(seen === Long.MinValue, "no point seen")
  }

  test("idle state is removed exactly at lastSeen + retentionSecs") {
    def step(wm: Long) = {
      val c = StreamOps.confirm(Seq.empty[(Long, String)], Iterator.empty, lastSeen = 1000L,
        wm = wm, retentionSecs = 500L)(_._1)
      val st = stateAt(wm)
      val removed = StreamOps.settle(st, wm, c.idle, c.dues)("next")
      (removed, st)
    }
    val (removedBefore, before) = step(1499L)
    assert(!removedBefore && !before.isRemoved && before.isUpdated)
    assert(before.get === "next")
    assert(timeoutSecs(before) === Some(1500L), "armed at lastSeen + retentionSecs")
    val (removedAt, at) = step(1500L)
    assert(removedAt && at.isRemoved && !at.exists)
  }

  test("confirmation splits at the watermark and keeps a key with pending events") {
    val c = StreamOps.confirm(Seq((1001L, "b")), Iterator((1000L, "a"), (900L, "c")),
      lastSeen = 0L, wm = 1000L, retentionSecs = 10L)(_._1)
    assert(c.ready.toSet === Set((1000L, "a"), (900L, "c")), "time <= wm is confirmed")
    assert(c.pending === Seq((1001L, "b")))
    assert(c.lastSeen === 1001L)
    assert(!c.idle, "a key with a pending event is not idle")
    assert(c.dues === Seq(1002L, 1011L))
  }

  test("the timeout is the smallest due strictly after the watermark") {
    val st = stateAt(1000L)
    assert(!StreamOps.settle(st, 1000L, idle = false, Seq(900L, 1000L, 1700L, 1200L))("x"))
    assert(st.isUpdated && st.get === "x")
    assert(timeoutSecs(st) === Some(1200L))
  }

  test("no timeout is armed when no due lies ahead") {
    val st = stateAt(1000L, None)
    assert(!StreamOps.settle(st, 1000L, idle = false, Seq(500L, 1000L))("x"))
    assert(st.isUpdated && st.get === "x" && !st.isRemoved)
    assert(timeoutSecs(st) === None)
  }
}
