package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.etl.MergeWriter

class SyncGenSpec extends AnyFunSuite {
  private lazy val a = SyncGen.generate(7L, liveBatches = 4)
  private lazy val b = SyncGen.generate(7L, liveBatches = 4)
  private lazy val c = SyncGen.generate(8L, liveBatches = 4)

  test("the same seed gives byte-identical batches") {
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x.bytes, y.bytes)) }
  }

  test("a different seed gives different batches") {
    assert(a.zip(c).exists { case (x, y) => !java.util.Arrays.equals(x.bytes, y.bytes) })
  }

  /** The properties the generator states, checked on one stream. */
  private def properties(batches: Seq[SyncGen.Batch]): Unit = {
    val all = batches.flatMap(_.lines)
    val evs = batches.flatMap(_.events)
    assert(batches.map(_.phase) == Seq("backlog") ++ Seq.fill(4)("live"))
    assert(batches.head.lines.size == SyncIngest.BacklogEvents)
    assert(batches.tail.forall(_.lines.size == SyncIngest.LiveEvents))
    // rooms far outnumber the catalog's buckets, and activity is skewed
    val msgs = evs.filter(_.eventType == "m.room.message")
    val perRoom = msgs.groupBy(_.roomId).map(_._2.size).toSeq.sorted.reverse
    assert(SyncIngest.Rooms > 10 * 16 && perRoom.size > 10 * 16)
    assert(perRoom.take(perRoom.size / 10).sum > msgs.size / 3, "top tenth of rooms carry a third")
    assert(msgs.map(e => MergeWriter.bucketIdOf(e.roomId, 16)).distinct.size == 16)
    // shares of the special cases
    val enc = msgs.filter(_.encrypted)
    val encShare = enc.size.toDouble / msgs.size
    assert(encShare > 0.06 && encShare < 0.14, encShare)
    assert(enc.exists(_.tampered) && enc.exists(!_.tampered))
    assert(msgs.exists(_.backfill))
    val bad = all.collect { case SyncGen.Bad(t) => t }
    assert(bad.nonEmpty && bad.size < all.size / 50)
    // redeliveries are exact copies of an earlier batch's line
    val seen = scala.collection.mutable.Set[String]()
    var redelivered = 0
    batches.foreach { bt =>
      val lines = bt.events.map(_.line)
      redelivered += lines.count(seen.contains)
      seen ++= lines
    }
    assert(redelivered > 0)
    // display names collide inside rooms
    val members = evs.filter(_.eventType == "m.room.member")
    val names = members.flatMap(e => e.member.get._2.map(n => (e.roomId, n, e.sender))).distinct
    assert(names.groupBy(x => (x._1, x._2)).exists(_._2.map(_._3).distinct.size > 1))
    assert(members.exists(_.member.get._1.isEmpty), "member events without a membership")
    // two versions of one key never share a timestamp inside a batch
    batches.foreach { bt =>
      val keyed = bt.events.map(e => (e.eventId, e.ts)).distinct
      assert(keyed.groupBy(identity).forall(_._2.size == 1))
      val byId = bt.events.groupBy(_.eventId).filter(_._2.map(_.line).distinct.size > 1)
      assert(byId.values.forall(vs => vs.map(_.ts).distinct.size == vs.map(_.line).distinct.size))
    }
  }

  test("every seed holds the stated properties") {
    properties(a)
    properties(c)
  }

  test("encrypted content decrypts to the stated plaintext unless tampered") {
    val key = SyncGen.CryptoKey
    val enc = a.flatMap(_.events).filter(_.encrypted).take(200)
    enc.foreach { e =>
      val got = graft.etl.Decrypt.decrypt(e.content, key)
      if (e.tampered) assert(got.isEmpty) else assert(got.contains(e.plain))
    }
  }
}
