package perfbench

import java.nio.charset.StandardCharsets
import graft.etl.{CryptoConfig, Decrypt}

/** Seeded generator of the sync stream: JSON-lines micro-batches in the
  * raw-event wire shape (`Schemas.rawEvent`), as a homeserver's `/sync`
  * would deliver them to the ingest loop.
  *
  * Properties held for every seed (the generator tests pin them):
  *  - rooms far outnumber the catalog's 16 buckets, and room activity
  *    is Zipf-skewed;
  *  - display names come from a small pool, so members of one room
  *    collide and exercise the disambiguation path;
  *  - a fixed share of messages is AES-GCM encrypted under
  *    [[SyncGen.Crypto]], and a fixed share of those is tampered so it
  *    fails authentication;
  *  - a fixed share of lines are at-least-once redeliveries (exact
  *    copies of a line from an earlier batch), edits (a known event_id
  *    with new content and a later timestamp), backfill events or
  *    malformed lines;
  *  - every generated timestamp is unique, so no two versions of one
  *    key ever tie inside a batch.
  *
  * The generator also returns the structured events, which the
  * independent model ([[SyncModel]]) replays to compute the expected
  * catalog without touching the engine.
  */
object SyncGen {

  /** Share of each line kind, per generated line. */
  val MemberShare = 0.06
  val EncryptedShare = 0.10 // of messages
  val TamperedShare = 0.05  // of encrypted messages
  val BackfillShare = 0.02  // of messages
  val RedeliveryShare = 0.03
  val EditShare = 0.01
  val MalformedShare = 0.005
  val RoomZipf = 1.1

  val Domain = "bench.local"
  val Crypto = CryptoConfig("perfbench-passphrase", "cGVyZmJlbmNoLXNhbHQ=", 1000)
  lazy val CryptoKey: Array[Byte] = Decrypt.deriveKey(Crypto.passphrase,
    java.util.Base64.getDecoder.decode(Crypto.saltB64), Crypto.iterations)

  val Names: IndexedSeq[String] = IndexedSeq("Alex", "Sam", "Robin", "Kim",
    "Jordan", "Casey", "Taylor", "Morgan", "Riley", "Jamie", "Avery", "Quinn",
    "Drew", "Reese", "Rowan", "Sky", "Emery", "Harper", "Parker", "Blake",
    "Dana", "Elliot", "Finley", "Hayden", "Jesse", "Kai", "Lee", "Max",
    "Noel", "Oakley")
  private val Words = IndexedSeq("hello", "sync", "room", "merge", "lunch",
    "deploy", "build", "ticket", "review", "coffee", "later", "today",
    "spark", "batch", "event", "thanks", "ok", "ship", "plan", "notes")

  /** One generated wire event. `content` is the JSON text on the wire
    * (ciphertext for encrypted events); `plain` is what a correct
    * decrypt yields. `member` = (membership, displayname, avatar_url). */
  final case class Event(
      eventId: String, roomId: String, sender: String, eventType: String,
      ts: Long, content: String, relatesTo: Option[String],
      encrypted: Boolean, backfill: Boolean, plain: String,
      tampered: Boolean,
      member: Option[(Option[String], Option[String], Option[String])]) {
    def line: String = Json.obj(
      "event_id" -> Json.str(eventId), "room_id" -> Json.str(roomId),
      "sender" -> Json.str(sender), "event_type" -> Json.str(eventType),
      "origin_server_ts" -> ts.toString, "content" -> Json.str(content),
      "relates_to" -> relatesTo.fold("null")(Json.str),
      "is_encrypted" -> encrypted.toString,
      "to_start_of_timeline" -> backfill.toString)
  }

  /** A line of a batch: a well-formed event or a malformed line. */
  sealed trait Line { def text: String }
  final case class Ev(e: Event) extends Line { def text: String = e.line }
  final case class Bad(text: String) extends Line

  final case class Batch(phase: String, lines: IndexedSeq[Line]) {
    lazy val bytes: Array[Byte] =
      lines.map(_.text).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    def events: IndexedSeq[Event] = lines.collect { case Ev(e) => e }
  }

  def roomId(i: Int): String = f"!r$i%04d:$Domain"
  def userId(i: Int): String = f"@u$i%04d:$Domain"

  /** One backlog batch, then `liveBatches` live ones; sizes and
    * population are [[SyncIngest]]'s. */
  def generate(seed: Long, liveBatches: Int = SyncIngest.MaxLiveBatches): IndexedSeq[Batch] = {
    import SyncIngest.{Rooms, Users}
    val rnd = new java.util.Random(seed)
    val roomPick = new Zipf(Rooms, RoomZipf)
    var clock = 1700000000000L
    var seq = 0L
    def nextTs(): Long = { clock += 1 + rnd.nextInt(40); clock }
    def nextId(): String = { seq += 1; f"$$e$seq%08d:$Domain" }
    val members = Array.fill(Rooms)(scala.collection.mutable.ArrayBuffer[Int]())
    val sent = scala.collection.mutable.ArrayBuffer[Event]() // earlier-batch messages
    val iv = new Array[Byte](Decrypt.GcmIvBytes)

    def body(): String = {
      val n = 2 + rnd.nextInt(8)
      Json.obj("msgtype" -> Json.str("m.text"),
        "body" -> Json.str((0 until n).map(_ => Words(rnd.nextInt(Words.size))).mkString(" ")))
    }
    def memberEvent(room: Int, user: Int, membership: Option[String]): Event = {
      val dn = if (rnd.nextDouble() < 0.05) None else Some(Names(rnd.nextInt(Names.size)))
      val av = if (rnd.nextDouble() < 0.3) Some(s"mxc://$Domain/av${rnd.nextInt(1000)}") else None
      val fields = membership.map("membership" -> Json.str(_)).toSeq ++
        dn.map("displayname" -> Json.str(_)) ++ av.map("avatar_url" -> Json.str(_))
      Event(nextId(), roomId(room), userId(user), "m.room.member", nextTs(),
        Json.obj(fields: _*), None, encrypted = false, backfill = false, "",
        tampered = false, Some((membership, dn, av)))
    }
    def message(room: Int): Event = {
      val ms = members(room)
      val sender = if (ms.isEmpty) rnd.nextInt(Users) else ms(rnd.nextInt(ms.size))
      val plain = body()
      val enc = rnd.nextDouble() < EncryptedShare
      val tampered = enc && rnd.nextDouble() < TamperedShare
      val backfill = !enc && rnd.nextDouble() < BackfillShare
      val content = if (!enc) plain else {
        rnd.nextBytes(iv)
        val ct = Decrypt.encrypt(plain, CryptoKey, iv)
        if (!tampered) ct else {
          // flip one base64 digit inside the ciphertext body
          val i = Decrypt.GcmIvBytes * 4 / 3 + 2 + rnd.nextInt(8)
          ct.updated(i, if (ct(i) == 'A') 'B' else 'A')
        }
      }
      val rel = if (rnd.nextDouble() < 0.05 && sent.nonEmpty)
        Some(Json.obj("rel_type" -> Json.str("m.reference"),
          "event_id" -> Json.str(sent(rnd.nextInt(sent.size)).eventId)))
      else None
      Event(nextId(), roomId(room), userId(sender), "m.room.message", nextTs(),
        content, rel, enc, backfill, plain, tampered, None)
    }
    def stateEvent(room: Int, tpe: String, content: String): Event =
      Event(nextId(), roomId(room), userId(0), tpe, nextTs(), content, None,
        encrypted = false, backfill = false, "", tampered = false, None)

    def batch(phase: String, n: Int, first: Boolean): Batch = {
      val out = scala.collection.mutable.ArrayBuffer[Line]()
      if (first) {
        // initial room state and membership, as an initial sync returns it
        for (r <- 0 until Rooms) {
          out += Ev(stateEvent(r, "m.room.create", Json.obj("creator" -> Json.str(userId(0)))))
          out += Ev(stateEvent(r, "m.room.name", Json.obj("name" -> Json.str(f"Room $r%04d"))))
          if (r % 3 != 0) out += Ev(stateEvent(r, "m.room.topic", Json.obj("topic" -> Json.str(s"topic $r"))))
          if (r % 4 == 0) out += Ev(stateEvent(r, "m.room.encryption", Json.obj("algorithm" -> Json.str("m.megolm.v1.aes-sha2"))))
          if (r % 5 == 0) out += Ev(stateEvent(r, "m.room.avatar", Json.obj("url" -> Json.str(s"mxc://$Domain/room$r"))))
          val size = 3 + math.min(27, 60 / (1 + roomPick.rank(r)))
          for (_ <- 0 until size) {
            val u = rnd.nextInt(Users)
            if (!members(r).contains(u)) { members(r) += u; out += Ev(memberEvent(r, u, Some("join"))) }
          }
        }
      }
      val earlier = sent.size // redeliveries and edits only reach back to earlier batches
      val fresh = scala.collection.mutable.ArrayBuffer[Event]()
      while (out.size < n) {
        val x = rnd.nextDouble()
        if (x < MalformedShare) {
          val e = message(roomPick.sample(rnd)).line
          out += Bad(if (rnd.nextBoolean()) e.take(e.length / 2) else s"not json ${nextId()}")
        } else if (x < MalformedShare + RedeliveryShare && earlier > 0) {
          out += Ev(sent(rnd.nextInt(earlier)))
        } else if (x < MalformedShare + RedeliveryShare + EditShare && earlier > 0) {
          val old = sent(rnd.nextInt(earlier))
          if (!old.encrypted && !old.backfill) {
            val plain = body()
            out += Ev(old.copy(ts = nextTs(), content = plain, plain = plain))
          }
        } else if (x < MalformedShare + RedeliveryShare + EditShare + MemberShare) {
          val r = roomPick.sample(rnd)
          val ms = members(r)
          val y = rnd.nextDouble()
          if (y < 0.4 || ms.isEmpty) {
            val u = rnd.nextInt(Users)
            if (!ms.contains(u)) ms += u
            out += Ev(memberEvent(r, u, Some("join")))
          } else if (y < 0.85) {
            out += Ev(memberEvent(r, ms(rnd.nextInt(ms.size)), Some("join")))
          } else if (y < 0.95) {
            out += Ev(memberEvent(r, ms(rnd.nextInt(ms.size)), Some("leave")))
          } else {
            out += Ev(memberEvent(r, ms(rnd.nextInt(ms.size)), None))
          }
        } else {
          val m = message(roomPick.sample(rnd))
          fresh += m
          out += Ev(m)
        }
      }
      sent ++= fresh
      Batch(phase, out.toIndexedSeq)
    }

    val backlog = batch("backlog", SyncIngest.BacklogEvents, first = true)
    backlog +: (0 until liveBatches).map(_ => batch("live", SyncIngest.LiveEvents, first = false))
  }
}

/** Zipf(n, s) over ranks 0..n-1 by inverse CDF. Item i has rank
  * `perm(i)` so popularity is not simply ordered by id. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  // a fixed stride permutation: rank k is item (k * 7919) mod n
  private val stride = Iterator.from(7919).find(p => BigInt(p).gcd(n) == 1).get
  def item(rank: Int): Int = ((rank.toLong * stride) % n).toInt
  def rank(item: Int): Int = (0 until n).find(r => this.item(r) == item).get
  def sample(rnd: java.util.Random): Int = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    item(math.min(i, n - 1))
  }
}

/** Minimal JSON writer for the generator and the result line. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
