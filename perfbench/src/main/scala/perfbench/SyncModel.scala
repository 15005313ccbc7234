package perfbench

import java.security.MessageDigest
import scala.collection.mutable

/** Independent model of what the ingest path must leave in the catalog
  * after a generated stream: plain Scala over the generator's
  * structured events, batch by batch, written from the documented
  * contract rather than from the engine's code.
  *
  *  - messages: message events that are not backfill; the newest batch
  *    carrying an event_id wins (batch-wins upsert), and inside one batch
  *    the greatest timestamp wins; encrypted content is the plaintext;
  *    a tampered event is a dead letter in `logs`, never a message.
  *  - participants: the latest clean member event per (user, room) in a
  *    batch renders the display name against the post-batch room state
  *    (stored members of the batch's rooms plus the batch's own latest
  *    members); a name that another live member of the room shares gets
  *    a " (user_id)" suffix. The stored row changes only when display
  *    name, avatar or membership differ. A member event without a
  *    membership is a dead letter.
  *  - rooms: projected from the state events of the one batch that
  *    carries them.
  *  - logs: one line per malformed line, decrypt failure and rejected
  *    member event, in append order.
  */
object SyncModel {

  final case class Msg(eventId: String, roomId: String, sender: String,
      content: String, timestamp: Long, encrypted: Boolean, relatesTo: Option[String])
  /** `key` is the collision key of the raw name; `changed` the batch
    * whose merge last replaced the row. */
  final case class Member(userId: String, roomId: String, displayName: String,
      avatarUrl: String, membership: String, joinedTs: Long, key: String, changed: Int)
  final case class Room(roomId: String, name: String, topic: String,
      encrypted: Boolean, createdTs: Long, avatarUrl: String)
  /** A log line and the batch and append step (0 corrupt, 1 decrypt,
    * 2 member) that wrote it — the order the tail route returns. */
  final case class Log(message: String, batch: Int, step: Int)

  final case class State(messages: Map[String, Msg],
      participants: Map[(String, String), Member], rooms: Map[String, Room],
      logs: IndexedSeq[Log], batches: Int) {

    /** Rooms by their newest message, as GET /rooms orders them. */
    lazy val lastMessage: Map[String, Long] =
      messages.values.groupBy(_.roomId).map { case (r, ms) => r -> ms.map(_.timestamp).max }

    def messagesOf(roomId: String): IndexedSeq[Msg] =
      byRoom.getOrElse(roomId, IndexedSeq.empty)
    private lazy val byRoom: Map[String, IndexedSeq[Msg]] =
      messages.values.groupBy(_.roomId).map { case (r, ms) =>
        r -> ms.toIndexedSeq.sortBy(m => (-m.timestamp, m.eventId))(
          Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
      }
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def run(batches: Seq[SyncGen.Batch]): State = {
    val messages = mutable.Map[String, Msg]()
    val parts = mutable.Map[(String, String), Member]()
    val rooms = mutable.Map[String, Room]()
    val logs = mutable.ArrayBuffer[Log]()

    batches.zipWithIndex.foreach { case (b, bi) =>
      b.lines.foreach {
        case SyncGen.Bad(t) => logs += Log(s"$$corrupt-${md5Hex(t)}: $t", bi, 0)
        case _ =>
      }
      val evs = b.events
      // messages: inside the batch the greatest (timestamp) wins, then
      // the batch wins against the stored row
      val msgs = evs.filter(e => e.eventType == "m.room.message" && !e.backfill)
      msgs.filter(_.tampered).foreach { e =>
        logs += Log(s"${e.eventId}: decrypt_failed: AES-GCM authentication", bi, 1)
      }
      msgs.filterNot(_.tampered).groupBy(_.eventId).foreach { case (id, vs) =>
        val e = vs.maxBy(_.ts)
        messages(id) = Msg(id, e.roomId, e.sender, e.plain, e.ts, e.encrypted, e.relatesTo)
      }
      // participants
      val mem = evs.filter(_.eventType == "m.room.member")
      mem.filter(_.member.get._1.isEmpty).foreach { e =>
        logs += Log(s"${e.eventId}: member_missing_membership: content has no usable membership", bi, 2)
      }
      val latest = mem.filter(_.member.get._1.isDefined)
        .groupBy(e => (e.sender, e.roomId)).map { case (k, vs) => k -> vs.maxBy(_.ts) }
      def keyOf(e: SyncGen.Event): String =
        e.member.get._2.fold(s" mxid:${e.sender}")(identity)
      val batchRooms = latest.keySet.map(_._2)
      // live collision scope per room: stored members not superseded by
      // this batch, plus the batch's latest member rows
      val live: Map[(String, String), Set[String]] = {
        val stored = parts.values.filter(p =>
          batchRooms.contains(p.roomId) && !latest.contains((p.userId, p.roomId)))
          .map(p => (p.roomId, p.key) -> p.userId)
        val fresh = latest.values.map(e => (e.roomId, keyOf(e)) -> e.sender)
        (stored ++ fresh).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      }
      latest.foreach { case ((user, room), e) =>
        val (membership, dn, av) = e.member.get
        val key = keyOf(e)
        val name = dn match {
          case Some(n) if live.getOrElse((room, key), Set.empty).exists(_ != user) => s"$n ($user)"
          case Some(n) => n
          case None => user
        }
        val row = Member(user, room, name, av.getOrElse(""), membership.get, e.ts, key, bi)
        parts.get((user, room)) match {
          case Some(old) if old.displayName == row.displayName &&
              old.avatarUrl == row.avatarUrl && old.membership == row.membership =>
          case _ => parts((user, room)) = row
        }
      }
      // rooms: one projection per room from this batch's state events
      evs.filter(e => Set("m.room.name", "m.room.topic", "m.room.create",
          "m.room.avatar", "m.room.encryption").contains(e.eventType))
        .groupBy(_.roomId).foreach { case (r, es) =>
          def field(tpe: String, f: String): String = es.filter(_.eventType == tpe)
            .flatMap(e => JsonField(e.content, f)).sorted.lastOption.getOrElse("")
          val created = es.filter(_.eventType == "m.room.create").map(_.ts)
          rooms(r) = Room(r, field("m.room.name", "name"), field("m.room.topic", "topic"),
            es.exists(_.eventType == "m.room.encryption"),
            if (created.isEmpty) 0L else created.min, field("m.room.avatar", "url"))
        }
    }
    State(messages.toMap, parts.toMap, rooms.toMap, logs.toIndexedSeq, batches.size)
  }

  /** Logs in the order GET /logs returns them: newest append first, and
    * by message inside one append. */
  def logsNewestFirst(s: State): IndexedSeq[String] =
    s.logs.groupBy(l => (l.batch, l.step)).toIndexedSeq
      .sortBy { case ((b, st), _) => (-b, -st) }
      .flatMap(_._2.map(_.message).sorted)

  /** The users view: per user the most recently changed row, ties by
    * room_id descending; ordered by display name then user_id. */
  def users(s: State): IndexedSeq[(String, String, String)] =
    s.participants.values.groupBy(_.userId).values
      .map(_.maxBy(p => (p.changed, p.roomId)))
      .map(p => (p.userId, p.displayName, p.avatarUrl)).toIndexedSeq
      .sortBy(u => (u._2, u._1))
}

/** Top-level string field of a flat JSON object written by [[Json]]. */
object JsonField {
  def apply(json: String, field: String): Option[String] = {
    val m = ("\"" + java.util.regex.Pattern.quote(field) + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(json)
    m.map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
  }
}
