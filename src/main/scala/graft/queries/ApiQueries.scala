package graft.queries

import graft.{QueryDef, Tables}
import graft.etl.{Api, Catalog}
import graft.ext.StoreRoot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated twins of the EIGHT `Api` route functions (SURVEY §2.4
  * Q1–Q8, src/server/api/routes.ts) — plus, since round 16, the
  * end-to-end T4 roomState-scope entry (`api_t4_roomstate`, its own
  * [[materializeT4]] catalog) — in their TRUE domain shape: the
  * Catalog tables (messages/rooms/participants/sync_state/logs) are
  * materialized from the driver's `events` parquet THROUGH THE REAL
  * WRITE PATH — bucketed MergeWriter upserts for messages/participants,
  * segment appends for sync_state/logs — and each query then runs the
  * actual `Api` function over the committed snapshots. The DuckDB
  * oracle reproduces the (deterministic) derivation purely in SQL over
  * `events`, so rows+schema+hash verify the whole pipeline: derivation,
  * merge semantics, bucketed physical layout, and the route plan.
  *
  * Deterministic event → domain mapping (mirrored in every oracle CTE):
  *   event_id  e{event_id}          room_id  r{user_id % 25}
  *   sender    @u{user_id}          content  props (JSON string)
  *   timestamp epoch millis of ts   is_encrypted  event_id % 7 = 0
  * Rooms/participants derive from messages; sync_state is one row per
  * event-day (id d{date}, next_batch b{max event_id}); logs is one row
  * per event. All `created_at`-style columns use a FIXED literal
  * timestamp — never current_timestamp() — so reruns hash identically.
  *
  * Corpus invariant the twins lean on: `user_id`/`event_id`/`ts` are
  * NON-NEGATIVE in the driver parquet (TESTDATA.md sequential ids).
  * Spark's pmod and DuckDB's `%` agree only on non-negative operands
  * (DuckDB % is remainder, sign of the dividend), and Spark's
  * `unix_millis(ts) ≡ DuckDB epoch_ms(ts)` relies on the session TZ
  * pinned UTC (Sessions.scala) so both read the naive µs timestamps
  * identically — every modular room/name mapping here and in
  * RefQueries shares these assumptions.
  */
object ApiQueries {

  private val RoomsN = 25L
  /** Messages arrive as two upserts split at this cut (exercises the
    * incremental bucket-pruned merge, not just a single full write). */
  private val CutMs = java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli
  private val PageCutMs = java.time.Instant.parse("2024-01-25T00:00:00Z").toEpochMilli

  private def storeRoot(s: SparkSession, dir: String): String =
    StoreRoot.resolve(s, dir, "GRAFT_API_CATALOG_DIR", "api-catalog",
      Tables.events, "event_id")

  /** The catalog materialized from `dir`'s events. */
  def materialize(s: SparkSession, dir: String): Catalog = {
    val cat = Catalog(storeRoot(s, dir))
    StoreRoot.once(cat.root)(build(s, dir, cat))
    cat
  }

  /** The deterministic events → messages-table derivation, shared by
    * the default-layout catalog and the grown-bucket one (the two MUST
    * hold identical logical content — only the physical layout moves). */
  private def msgsFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fixedTs = to_timestamp(lit("2024-06-01 00:00:00"))
    Tables.eventsNorm(s, dir).select( // ts = TimestampType (µs, UTC)
      md5(concat(lit("e"), $"event_id")).as("id"),
      concat(lit("e"), $"event_id").as("event_id"),
      concat(lit("r"), pmod($"user_id", lit(RoomsN))).as("room_id"),
      concat(lit("@u"), $"user_id").as("sender"),
      $"props".as("content"),
      $"event_type",
      unix_millis($"ts").as("timestamp"),
      (pmod($"event_id", lit(7L)) === 0).as("is_encrypted"),
      lit(null).cast("string").as("relates_to"),
      when($"event_type" === "error", lit("ingest_error"))
        .otherwise(lit(null).cast("string")).as("error"),
      fixedTs.as("processed_at"))
  }

  /** The two-upsert messages load: initial snapshot, then an
    * incremental batch — the second merge reads+rewrites only the
    * buckets its rows touch (at ANY bucket count). */
  private def loadMessages(s: SparkSession, dir: String, cat: Catalog): Unit = {
    import s.implicits._
    val msgs = msgsFrame(s, dir)
    cat.upsert(s, "messages", msgs.filter($"timestamp" < CutMs),
      Seq("event_id"), Seq("timestamp", "id"))
    cat.upsert(s, "messages", msgs.filter($"timestamp" >= CutMs),
      Seq("event_id"), Seq("timestamp", "id"))
    ()
  }

  private def build(s: SparkSession, dir: String, cat: Catalog): Unit = {
    import s.implicits._
    cat.bootstrap()
    val fixedTs = to_timestamp(lit("2024-06-01 00:00:00"))
    // ts normalized to TimestampType whatever the parquet generation
    // (identity on timestamp[us] testdata; truncating div on legacy
    // ns-as-Long) — same reader boundary as msgsFrame/buildT4.
    val ev = Tables.eventsNorm(s, dir)

    val msgs = msgsFrame(s, dir)
    loadMessages(s, dir, cat)

    val rooms = msgs.groupBy($"room_id")
      .agg(min($"timestamp").as("created_ts"))
      .select($"room_id",
        concat(lit("Room "), expr("substring(room_id, 2)")).as("name"),
        lit("").as("topic"),
        lit("join").as("membership"),
        (expr("CAST(substring(room_id, 2) AS INT)") % 2 === 0).as("is_encrypted"),
        $"created_ts",
        lit("").as("avatar_url"),
        fixedTs.as("last_updated"),
        fixedTs.as("created_at"))
    cat.upsert(s, "rooms", rooms, Seq("room_id"), Seq("created_ts"))

    val participants = msgs.groupBy($"sender", $"room_id")
      .agg(min($"timestamp").as("joined_ts"))
      .select($"sender".as("user_id"), $"room_id",
        concat(lit("User "), expr("substring(sender, 3)")).as("display_name"),
        lit("").as("avatar_url"),
        lit("join").as("membership"),
        $"joined_ts",
        fixedTs.as("last_updated"),
        fixedTs.as("created_at"))
    cat.upsert(s, "participants", participants,
      Seq("user_id", "room_id"), Seq("joined_ts"))

    val days = ev
      .groupBy(to_date($"ts").as("day"))
      .agg(max($"event_id").as("mx"))
      .select(concat(lit("d"), date_format($"day", "yyyy-MM-dd")).as("id"),
        concat(lit("b"), $"mx").as("next_batch"),
        $"day".cast("timestamp").as("created_at"))
    // two O(batch) segment appends (append-only log path, L5/L6 shape)
    cat.append(s, "sync_state", days.filter($"created_at" < to_timestamp(lit("2024-01-16 00:00:00"))))
    cat.append(s, "sync_state", days.filter($"created_at" >= to_timestamp(lit("2024-01-16 00:00:00"))))

    val logs = ev.select(
      $"ts".as("timestamp"),
      when($"event_type" === "error", lit("error")).otherwise(lit("info")).as("level"),
      concat(lit("evt e"), $"event_id").as("message"))
    cat.append(s, "logs", logs)
  }

  private def api(s: SparkSession, dir: String): Api = Api(materialize(s, dir))

  /** Second, tiny catalog for the T4 roomState-scope entry: TWO real
    * `Pipeline.applyBatch` micro-batches of member events with DISJOINT
    * user sets (dense @a…, then sparse @b…) over shared rooms — batch
    * 2's pool names collide with batch 1's PERSISTED (already
    * suffix-rendered) rows but mostly not within batch 2 itself, so the
    * entry discriminates roomState scope from batch-only scope, and the
    * read exercises the bucket-pruned state consult AND the stored-name
    * key inversion through the real merge. */
  def materializeT4(s: SparkSession, dir: String): Catalog = {
    val cat = Catalog(storeRoot(s, dir) + "-t4inc")
    StoreRoot.once(cat.root)(buildT4(s, dir, cat))
    cat
  }

  private def buildT4(s: SparkSession, dir: String, cat: Catalog): Unit = {
    import s.implicits._
    cat.bootstrap()
    val ev = Tables.eventsNorm(s, dir) // ts = TimestampType (µs, UTC)
    def memberRaw(batch: DataFrame, prefix: String,
        dn: org.apache.spark.sql.Column): DataFrame = batch.select(
      concat(lit("$t4m"), $"event_id", lit(":x")).as("event_id"),
      concat(lit("!t"), pmod($"user_id", lit(20L)), lit(":x")).as("room_id"),
      concat(lit(prefix), $"user_id", lit(":x")).as("sender"),
      lit("m.room.member").as("event_type"),
      unix_millis($"ts").as("origin_server_ts"),
      concat(lit("{\"membership\":\"join\",\"displayname\":\""), dn, lit("\"}"))
        .as("content"),
      lit(null).cast("string").as("relates_to"),
      lit(false).as("is_encrypted"),
      lit(false).as("to_start_of_timeline"),
      lit(null).cast("string").as("error"))
    val pipe = graft.etl.Pipeline(cat)
    val poolName = concat(lit("M"), pmod($"user_id", lit(5L)))
    pipe.applyBatch(s,
      memberRaw(ev.filter(pmod($"event_id", lit(2L)) === 0), "@a", poolName),
      batchId = 1L)
    // sparse second batch: a pool-named @b user is usually ALONE in its
    // (room, name) cell within the batch — only the persisted @a rows
    // make it collide; X-named users collide with nobody (bare render)
    val b2dn = when(pmod($"user_id", lit(3L)) === 0,
      concat(lit("X"), $"user_id")).otherwise(poolName)
    pipe.applyBatch(s,
      memberRaw(ev.filter(pmod($"event_id", lit(101L)) === 1), "@b", b2dn),
      batchId = 2L)
  }

  /** The deployment bucket layout under oracle gate: 16·16, the grown
    * 16·K shape PLANS.md round 16 measured (write path and state
    * consult decades) — not the default 16. */
  private val GrownBuckets = 256

  /** Third catalog: the SAME messages content as [[materialize]] but
    * committed at the GROWN bucket count, so the deployment layout's
    * correctness (bucket modulus, per-bucket sort, readForKey pruning,
    * incremental merge bucket selection) is hash-checked against the
    * layout-independent DuckDB twin every round instead of assumed
    * layout-neutral. */
  def materializeGrown(s: SparkSession, dir: String): Catalog = {
    val cat = Catalog(storeRoot(s, dir) + s"-grown$GrownBuckets",
      messageBuckets = GrownBuckets)
    StoreRoot.once(cat.root) {
      cat.bootstrap()
      loadMessages(s, dir, cat)
    }
    cat
  }

  /** Shared oracle CTE: the deterministic events → messages mapping. */
  private val MsgsCte = """
    msgs AS (
      SELECT md5('e' || event_id) AS id,
             'e' || event_id AS event_id,
             'r' || (user_id % 25) AS room_id,
             '@u' || user_id AS sender,
             props AS content,
             event_type,
             epoch_ms(ts) AS "timestamp",
             (event_id % 7 = 0) AS is_encrypted
      FROM events)"""

  val defs: Map[String, QueryDef] = Map(
    // Q1 — GET /rooms ordered by derived last_message_timestamp
    "api_q1_rooms_by_recency" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).listRooms(s)
          .select(col("room_id"), col("name"), col("is_encrypted"),
            col("created_ts"), col("last_message_timestamp"))
      },
      oracle = Some(s"""
        WITH $MsgsCte
        SELECT room_id,
               'Room ' || substr(room_id, 2) AS name,
               (CAST(substr(room_id, 2) AS INT) % 2 = 0) AS is_encrypted,
               min("timestamp") AS created_ts,
               max("timestamp") AS last_message_timestamp
        FROM msgs GROUP BY 1, 2, 3"""),
      doc = "Api Q1 over materialized catalog: rooms + derived recency (routes.ts:92)"),

    // Q2 — GET /rooms/:id (participants array exploded to rows so the
    // compare is order-insensitive)
    "api_q2_room_detail" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).roomDetail(s, "r3")
          .select(col("room_id"), col("name"), explode(col("participants")).as("p"))
          .select(col("room_id"), col("name"), col("p.user_id"),
            col("p.display_name"), col("p.membership"))
      },
      oracle = Some(s"""
        WITH $MsgsCte
        SELECT DISTINCT room_id,
               'Room ' || substr(room_id, 2) AS name,
               sender AS user_id,
               'User ' || substr(sender, 3) AS display_name,
               'join' AS membership
        FROM msgs WHERE room_id = 'r3'"""),
      doc = "Api Q2 over materialized catalog: room detail + json_agg (routes.ts:106-112)"),

    // Q3 — GET /rooms/:id/messages keyset page; the Spark side scans
    // ONE bucket of the bucketed messages table (readForKey)
    "api_q3_messages_page" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).messagesPage(s, "r3", before = Some(PageCutMs), limit = 50)
          .select(col("event_id"), col("sender"), col("timestamp"), col("content"))
      },
      oracle = Some(s"""
        WITH $MsgsCte
        SELECT event_id, sender, "timestamp", content
        FROM msgs
        WHERE room_id = 'r3' AND "timestamp" < $PageCutMs
        ORDER BY "timestamp" DESC, event_id DESC LIMIT 50"""),
      doc = "Api Q3 over materialized catalog: keyset page, bucket-pruned scan (routes.ts:126-145)"),

    // Q3 at the GROWN bucket layout (16·16): same route, same oracle,
    // same answer — but the messages table is materialized through two
    // incremental merges at 256 buckets and the page read prunes with
    // the 256-modulus. Hash-gates the deployment layout end-to-end: a
    // wrong modulus, a bucket-selection bug in the grown merge, or a
    // sort regression inside a grown bucket all flip the hash.
    "api_q3_grown_buckets" -> QueryDef(
      build = (s, dir) => {
        Api(materializeGrown(s, dir))
          .messagesPage(s, "r3", before = Some(PageCutMs), limit = 50)
          .select(col("event_id"), col("sender"), col("timestamp"), col("content"))
      },
      oracle = Some(s"""
        WITH $MsgsCte
        SELECT event_id, sender, "timestamp", content
        FROM msgs
        WHERE room_id = 'r3' AND "timestamp" < $PageCutMs
        ORDER BY "timestamp" DESC, event_id DESC LIMIT 50"""),
      doc = "Api Q3 at the grown 16·16-bucket deployment layout: " +
        "layout-correctness hash gate (schema.ts:81, SURVEY §2.4 " +
        "'thousands at cluster scale')"),

    // Q4 — GET /users (derived LWW users view)
    "api_q4_users" -> QueryDef(
      build = (s, dir) => api(s, dir).listUsers(s),
      oracle = Some(s"""
        WITH $MsgsCte
        SELECT DISTINCT sender AS user_id,
               'User ' || substr(sender, 3) AS display_name,
               '' AS avatar_url
        FROM msgs"""),
      doc = "Api Q4 over materialized catalog: users LWW view (routes.ts:154)"),

    // Q5 — GET /users/:id (participants ⋈ rooms, the explicit join)
    "api_q5_user_detail" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).userDetail(s, "@u7")
          .select(col("user_id"), explode(col("rooms")).as("r"))
          .select(col("user_id"), col("r.room_id"), col("r.name"))
      },
      oracle = Some(s"""
        WITH $MsgsCte
        SELECT DISTINCT sender AS user_id, room_id,
               'Room ' || substr(room_id, 2) AS name
        FROM msgs WHERE sender = '@u7'"""),
      doc = "Api Q5 over materialized catalog: user rooms join (routes.ts:168-176)"),

    // Q6 — GET /stats (five metrics, one job)
    "api_q6_stats" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).stats(s)
          .withColumn("last_sync_us", unix_micros(col("last_sync")))
          .drop("last_sync")
      },
      oracle = Some(s"""
        WITH $MsgsCte,
        r AS (SELECT DISTINCT room_id FROM msgs),
        p AS (SELECT DISTINCT sender, room_id FROM msgs),
        d AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
        SELECT (SELECT count(*) FROM msgs) AS total_messages,
               (SELECT count(*) FROM r) AS total_rooms,
               (SELECT CAST(sum(CASE WHEN CAST(substr(room_id, 2) AS INT) % 2 = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) FROM r) AS encrypted_rooms,
               (SELECT count(*) FROM p) AS total_participants,
               (SELECT epoch_us(max(day)) FROM d) AS last_sync_us"""),
      doc = "Api Q6 over materialized catalog: dashboard stats (routes.ts:216-224)"),

    // Q7 — GET /logs tail
    "api_q7_logs_tail" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).logsTail(s, limit = 100)
          .select(unix_micros(col("timestamp")).as("ts_us"),
            col("level"), col("message"))
      },
      oracle = Some("""
        SELECT epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level,
               'evt e' || event_id AS message
        FROM events ORDER BY 1 DESC, 3 ASC LIMIT 100"""),
      doc = "Api Q7 over materialized catalog: logs tail (routes.ts:238-241)"),

    // Q8 — GET /config singleton (latest sync token)
    "api_q8_config_singleton" -> QueryDef(
      build = (s, dir) => {
        api(s, dir).configSingleton(s)
          .select(col("id"), col("next_batch"),
            unix_micros(col("created_at")).as("created_us"))
      },
      oracle = Some("""
        WITH d AS (SELECT date_trunc('day', ts) AS day, max(event_id) AS mx
                   FROM events GROUP BY 1)
        SELECT 'd' || strftime(day, '%Y-%m-%d') AS id,
               'b' || mx AS next_batch,
               epoch_us(day) AS created_us
        FROM d ORDER BY day DESC, next_batch DESC LIMIT 1"""),
      doc = "Api Q8 over materialized catalog: config singleton (routes.ts:251)"),

    // T4 roomState scope END-TO-END: two real applyBatch micro-batches
    // through the bucketed merge, then the participants snapshot read
    // back. The DuckDB twin re-derives BOTH renders independently:
    // batch 1 windows over itself (it IS the room state), batch 2
    // windows over batch1 ∪ batch2 — so the hash check fails if the
    // engine scopes disambiguation to the batch alone, if the
    // stored-name key inversion misreads a suffixed row, or if the
    // merge corrupts either batch's rows. current_timestamp() columns
    // are excluded; the LWW-surviving joined_ts is deterministic and
    // kept. (calculateDisplayName roomState consult ≙ db.utils.ts:89-97)
    "api_t4_roomstate" -> QueryDef(
      build = (s, dir) => {
        materializeT4(s, dir).read(s, "participants")
          .select(col("user_id"), col("room_id"), col("display_name"),
            col("membership"), col("joined_ts"))
      },
      oracle = Some("""
        WITH b1 AS (
          SELECT '@a' || user_id || ':x' AS user_id,
                 '!t' || (user_id % 20) || ':x' AS room_id,
                 'M' || (user_id % 5) AS dn,
                 max(epoch_ms(ts)) AS joined_ts
          FROM events WHERE event_id % 2 = 0
          GROUP BY 1, 2, 3),
        b2 AS (
          SELECT '@b' || user_id || ':x' AS user_id,
                 '!t' || (user_id % 20) || ':x' AS room_id,
                 CASE WHEN user_id % 3 = 0 THEN 'X' || user_id
                      ELSE 'M' || (user_id % 5) END AS dn,
                 max(epoch_ms(ts)) AS joined_ts
          FROM events WHERE event_id % 101 = 1
          GROUP BY 1, 2, 3),
        c1 AS (SELECT room_id, dn, count(DISTINCT user_id) AS n
               FROM b1 GROUP BY 1, 2),
        c2 AS (SELECT room_id, dn, count(DISTINCT user_id) AS n
               FROM (SELECT room_id, dn, user_id FROM b1
                     UNION ALL SELECT room_id, dn, user_id FROM b2)
               GROUP BY 1, 2)
        SELECT b1.user_id, b1.room_id,
               CASE WHEN c1.n > 1 THEN b1.dn || ' (' || b1.user_id || ')'
                    ELSE b1.dn END AS display_name,
               'join' AS membership, b1.joined_ts
        FROM b1 JOIN c1 USING (room_id, dn)
        UNION ALL
        SELECT b2.user_id, b2.room_id,
               CASE WHEN c2.n > 1 THEN b2.dn || ' (' || b2.user_id || ')'
                    ELSE b2.dn END AS display_name,
               'join' AS membership, b2.joined_ts
        FROM b2 JOIN c2 USING (room_id, dn)"""),
      doc = "T4 roomState scope end-to-end: incremental disambiguation vs " +
        "persisted state through the real merge (calculateDisplayName, " +
        "db.utils.ts:89-97)")
  )
}
