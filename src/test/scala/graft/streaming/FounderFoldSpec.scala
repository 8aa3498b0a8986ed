package graft.streaming

import java.sql.Timestamp

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import StreamingNearDup.{BucketRow, DupOut, FounderState}

/** Unit tests for the founder-per-bucket state fold shared by every
  * streaming dedup path and the curation verdict — exercised directly via
  * Spark's TestGroupState, without spinning up a streaming query: the
  * StreamingSpec batch/stream equality cases cover the wiring; these pin
  * the fold's own invariants (deterministic in-batch ordering, founder
  * persistence across batches, timeout bookkeeping). The rows carry a
  * payload (`p<id>`, the founder's rides the state), as the verified
  * paths do; the unverified paths pass the row id. */
class FounderFoldSpec extends AnyFunSuite {

  private val H = 600000L // 10-minute reaping horizon

  private def row(id: Long, tsMs: Long) =
    BucketRow(id, 0, "k", new Timestamp(tsMs))

  private type St = FounderState[String]

  private def founded(id: Long, maxTs: Long): St = FounderState(id, maxTs, s"p$id")

  // the dup row's bucket key names the founder's payload, so every case
  // also checks that the payload is the founder's
  private def emitDup(r: BucketRow, founder: Long, payload: String, dup: Boolean) =
    if (dup) Iterator(DupOut(r.doc_id, founder, r.band, payload))
    else Iterator.empty

  private def state(init: Option[St], timedOut: Boolean = false) =
    TestGroupState.create[St](
      init.map(Optional.of[St]).getOrElse(Optional.empty()),
      GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(0L), timedOut)

  private def fold(rows: Seq[BucketRow], st: TestGroupState[St]) =
    StreamingNearDup.founderFold[BucketRow, DupOut, String](
      H, _.doc_id, _.ts, r => s"p${r.doc_id}", emitDup)(rows.iterator, st).toList

  test("rows arriving out of order within a batch are folded by (ts, id)") {
    val st = state(None)
    // iterator order 2-then-1, but doc 1 has the earlier event time
    val out = fold(Seq(row(2L, 2000L), row(1L, 1000L)), st)
    assert(out === List(DupOut(2L, 1L, 0, "p1")))
    assert(st.get === founded(1L, 2000L))
    assert(st.getTimeoutTimestampMs.get() === 2000L + H)
  }

  test("event-time tie breaks to the lower id — founder is deterministic") {
    val st = state(None)
    val out = fold(Seq(row(9L, 1000L), row(3L, 1000L)), st)
    assert(out === List(DupOut(9L, 3L, 0, "p3")))
    assert(st.get === founded(3L, 1000L))
  }

  test("founder persists across batches; maxTs only advances") {
    val st = state(Some(founded(1L, 5000L)))
    // a LATE row (ts 2000 < maxTs 5000) is still a dup of the founder and
    // must not regress the timeout bookkeeping
    val out = fold(Seq(row(7L, 2000L)), st)
    assert(out === List(DupOut(7L, 1L, 0, "p1")))
    assert(st.get === founded(1L, 5000L))
    assert(st.getTimeoutTimestampMs.get() === 5000L + H)
  }

  test("the founder re-arriving is not a dup of itself") {
    val st = state(Some(founded(1L, 1000L)))
    assert(fold(Seq(row(1L, 3000L)), st) === Nil)
    assert(st.get === founded(1L, 3000L))
  }

  test("sub-millisecond event times order at microsecond precision, like min(struct(ts, id))") {
    // same millisecond, doc 9 at 100us, doc 3 at 900us: ordering by
    // Timestamp.getTime alone would tie and founder the lower id (3);
    // the batch twin's min(struct(ts, doc_id)) founders the us-earlier 9
    def tsU(ms: Long, us: Int) = {
      val t = new Timestamp(ms)
      t.setNanos((t.getNanos / 1000000) * 1000000 + us * 1000)
      t
    }
    val st = state(None)
    val out = fold(Seq(
      BucketRow(3L, 0, "k", tsU(1000L, 900)),
      BucketRow(9L, 0, "k", tsU(1000L, 100))), st)
    assert(out === List(DupOut(3L, 9L, 0, "p9")))
    assert(st.get.founder === 9L)
  }

  test("cosine6 degrades to NaN on a zero-norm vector instead of throwing") {
    val z = Array(0f, 0f, 0f)
    val v = Array(1f, 2f, 3f)
    assert(StreamingNearDup.cosine6(z, v).isNaN)
    assert(StreamingNearDup.cosine6(v, z).isNaN)
    assert(!(StreamingNearDup.cosine6(z, v) >= 0.3)) // fails any threshold
    assert(StreamingNearDup.cosine6(v, v) === 1.0)
  }

  test("timed-out bucket state is removed and emits nothing") {
    val st = state(Some(founded(1L, 1000L)), timedOut = true)
    assert(fold(Nil, st) === Nil)
    assert(st.isRemoved)
  }
}
