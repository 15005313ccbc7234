package graft.queries

import graft.{Num, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity query surface re-expressed over the driver's `events`
  * table (the stand-in for the Matrix timeline stream — FIXTURES.md §B).
  *
  * Mapping of the reference's domain onto `events`:
  *   user_id ≙ room/sender key, ts ≙ origin_server_ts, event_type ≙
  *   Matrix event type, props ≙ JSONB `content`, value ≙ payload metric,
  *   event_type='error' ≙ the `is_encrypted`/error channel.
  *
  * Each entry cites the reference operator it re-implements
  * (SURVEY.md §2 ids → /root/reference file:line).
  *
  * Corpus invariant shared with ApiQueries: ids/ts are NON-NEGATIVE
  * (TESTDATA.md), so Spark `pmod` ≡ DuckDB `%` and `epoch_*(ts)` ≡
  * integer division on the raw nanos — the modular mappings in the
  * synthetic-corpus entries (ref_t4, ref_t5, api_t4) rely on it.
  */
object RefQueries {
  import Num._

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.eventsNorm(s, dir)

  val defs: Map[String, QueryDef] = Map(
    // S6 — credential lookup: filter + narrow projection
    // (src/server/utils/db.utils.ts:13-28)
    "ref_s6_credential_lookup" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .filter($"user_id" === 42 && $"event_type" === "signup")
          .select($"event_id", unix_micros($"ts").as("ts_us"),
            dbl(dec($"value")).as("value"))
      },
      oracle = Some("""
        SELECT event_id, epoch_us(ts) AS ts_us,
               CAST(value::DECIMAL(12,2) AS DOUBLE) AS value
        FROM events WHERE user_id = 42 AND event_type = 'signup'"""),
      doc = "S6: point-lookup filter + projection (db.utils.ts:13-28)"),

    // S7 — latest sync token: ORDER BY created_at DESC LIMIT 1
    // (src/server/utils/db.utils.ts:271-280)
    "ref_s7_latest_token" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .orderBy($"ts".desc, $"event_id".desc)
          .select($"event_id", unix_micros($"ts").as("ts_us"))
          .limit(1)
      },
      oracle = Some("""
        SELECT event_id, epoch_us(ts) AS ts_us
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 1"""),
      doc = "S7: argmax offset load (db.utils.ts:271-280)"),

    // T2+T3 — event-type filter + projection with JSON field access
    // (src/app/matrix/client.ts:276; src/server/utils/db.utils.ts:49-59)
    "ref_t3_event_projection" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .filter($"event_type" === "view")
          .select($"event_id", $"user_id".as("sender"),
            get_json_object($"props", "$.k").as("content_k"),
            unix_micros($"ts").as("ts_us"),
            dbl(dec($"value")).as("value"))
      },
      oracle = Some("""
        SELECT event_id, user_id AS sender,
               json_extract_string(props, '$.k') AS content_k,
               epoch_us(ts) AS ts_us,
               CAST(value::DECIMAL(12,2) AS DOUBLE) AS value
        FROM events WHERE event_type = 'view'"""),
      doc = "T2/T3: type predicate + JSONB projection (client.ts:276, db.utils.ts:49-59)"),

    // T4 — the member.name duplicate-disambiguation core, oracle-gated:
    // events re-expressed as member events with an ASCII name pool
    // (collisions by construction, an empty-name falsy case, an
    // mxid-lookalike force case), run through the REAL
    // Ingest.projectParticipant — window, suffix, falsy fallback and
    // the impersonation force rule are hash-checked against a DuckDB
    // re-derivation (count(DISTINCT) via group-join, as DuckDB lacks
    // DISTINCT window aggregates). Unicode edges (NFD, hidden chars,
    // LTR/RTL marks) stay spec-gated: JsonSourceSpec + StateKeySpec.
    // (matrix-js-sdk calculateDisplayName ≙ db.utils.ts:89-97)
    "ref_t4_member_name" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val dn = when(pmod($"user_id", lit(11L)) === 0, lit(""))
          .when(pmod($"user_id", lit(13L)) === 0, lit("@imp:x"))
          .otherwise(concat(lit("N"), pmod($"user_id", lit(7L))))
        val raw = ev(s, dir).select(
          concat(lit("$m"), $"event_id", lit(":x")).as("event_id"),
          concat(lit("!r"), pmod($"event_id", lit(50L)), lit(":x")).as("room_id"),
          concat(lit("@u"), $"user_id", lit(":x")).as("sender"),
          lit("m.room.member").as("event_type"),
          unix_micros($"ts").as("origin_server_ts"),
          concat(lit("{\"membership\":\"join\",\"displayname\":\""), dn, lit("\"}"))
            .as("content"),
          lit(null).cast("string").as("relates_to"),
          lit(false).as("is_encrypted"),
          lit(false).as("to_start_of_timeline"),
          lit(null).cast("string").as("error"))
        graft.etl.Ingest.projectParticipant(raw)
          .select($"event_id", $"user_id", $"room_id", $"display_name",
            $"membership")
      },
      oracle = Some("""
        WITH m AS (
          SELECT '$m' || event_id || ':x' AS event_id,
                 '!r' || (event_id % 50) || ':x' AS room_id,
                 '@u' || user_id || ':x' AS user_id,
                 CASE WHEN user_id % 11 = 0 THEN ''
                      WHEN user_id % 13 = 0 THEN '@imp:x'
                      ELSE 'N' || (user_id % 7) END AS dn
          FROM events
        ), k AS (
          SELECT *, (dn <> '' AND dn <> user_id) AS truthy,
                 CASE WHEN dn <> '' AND dn <> user_id THEN dn
                      ELSE ' mxid:' || user_id END AS ckey
          FROM m
        ), c AS (
          SELECT room_id, ckey, count(DISTINCT user_id) AS n
          FROM k GROUP BY room_id, ckey
        )
        SELECT k.event_id, k.user_id, k.room_id,
               CASE WHEN k.truthy AND (c.n > 1 OR regexp_matches(k.dn, '@.+:.+'))
                    THEN k.dn || ' (' || k.user_id || ')'
                    WHEN k.truthy THEN k.dn
                    ELSE k.user_id END AS display_name,
               'join' AS membership
        FROM k JOIN c ON k.room_id = c.room_id AND k.ckey = c.ckey"""),
      doc = "T4: member.name disambiguation window + falsy fallback + " +
        "impersonation force rule (db.utils.ts:89-97, calculateDisplayName)"),

    // T5 — room-state extraction, oracle-gated: events re-expressed as a
    // deterministic mix of state events (name/topic/create/avatar/
    // encryption) plus non-state noise rows, run through the REAL
    // Ingest.projectRooms, and re-derived in DuckDB as conditional
    // max/min group-bys. The mix is gated per room so the coalesced
    // defaults are exercised too: rooms ≡ 0 (mod 3) never see a name
    // event ('' fallback), rooms ≥ 20 never see m.room.create
    // (created_ts 0), odd rooms never see m.room.encryption (false).
    // (db.utils.ts:107-116 upsertRoom field mapping)
    "ref_t5_room_state" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val r = pmod($"user_id", lit(30L))
        val kind = pmod($"event_id", lit(6L))
        val etype = when(kind === 0 && pmod(r, lit(3L)) =!= 0, lit("m.room.name"))
          .when(kind === 1, lit("m.room.topic"))
          .when(kind === 2 && r < 20, lit("m.room.create"))
          .when(kind === 3, lit("m.room.avatar"))
          .when(kind === 4 && pmod(r, lit(2L)) === 0, lit("m.room.encryption"))
          .otherwise(lit("m.room.message"))
        // one content JSON carrying all three candidate fields —
        // projectRooms must pick the field its event type owns
        val content = concat(
          lit("{\"name\":\"Nm"), pmod($"user_id", lit(9L)),
          lit("\",\"topic\":\"Tp"), pmod($"event_id", lit(11L)),
          lit("\",\"url\":\"mxc://a/"), pmod($"user_id", lit(13L)),
          lit("\"}"))
        val raw = ev(s, dir).select(
          concat(lit("$s"), $"event_id", lit(":x")).as("event_id"),
          concat(lit("!s"), r, lit(":x")).as("room_id"),
          concat(lit("@u"), $"user_id", lit(":x")).as("sender"),
          etype.as("event_type"),
          unix_micros($"ts").as("origin_server_ts"),
          content.as("content"),
          lit(null).cast("string").as("relates_to"),
          lit(false).as("is_encrypted"),
          lit(false).as("to_start_of_timeline"),
          lit(null).cast("string").as("error"))
        graft.etl.Ingest.projectRooms(raw)
          .select($"room_id", $"name", $"topic", $"membership",
            $"is_encrypted", $"created_ts", $"avatar_url")
      },
      oracle = Some("""
        WITH s AS (
          SELECT (user_id % 30) AS r,
                 '!s' || (user_id % 30) || ':x' AS room_id,
                 (event_id % 6) AS kind,
                 epoch_us(ts) AS ots,
                 'Nm' || (user_id % 9) AS name_v,
                 'Tp' || (event_id % 11) AS topic_v,
                 'mxc://a/' || (user_id % 13) AS url_v
          FROM events
        ), t AS (
          SELECT room_id,
                 CASE WHEN kind = 0 AND r % 3 <> 0 THEN 'm.room.name'
                      WHEN kind = 1 THEN 'm.room.topic'
                      WHEN kind = 2 AND r < 20 THEN 'm.room.create'
                      WHEN kind = 3 THEN 'm.room.avatar'
                      WHEN kind = 4 AND r % 2 = 0 THEN 'm.room.encryption'
                      ELSE 'm.room.message' END AS event_type,
                 ots, name_v, topic_v, url_v
          FROM s
        )
        SELECT room_id,
               coalesce(max(CASE WHEN event_type = 'm.room.name' THEN name_v END), '') AS name,
               coalesce(max(CASE WHEN event_type = 'm.room.topic' THEN topic_v END), '') AS topic,
               'join' AS membership,
               max(event_type = 'm.room.encryption') AS is_encrypted,
               coalesce(min(CASE WHEN event_type = 'm.room.create' THEN ots END), 0) AS created_ts,
               coalesce(max(CASE WHEN event_type = 'm.room.avatar' THEN url_v END), '') AS avatar_url
        FROM t
        WHERE event_type IN ('m.room.name','m.room.topic','m.room.create',
                             'm.room.avatar','m.room.encryption')
        GROUP BY room_id"""),
      doc = "T5: room-state extraction — conditional max/min per state " +
        "event type with coalesced defaults (db.utils.ts:107-116)"),

    // T6 — user-id normalization regex (src/app/matrix/client.ts:151)
    "ref_t6_normalize_user" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .select($"user_id").distinct()
          .select($"user_id", graft.etl.Ingest.normalizeUserId(
            concat(lit("@u"), $"user_id", lit(":https://matrix.example.org"))).as("normalized"))
      },
      oracle = Some("""
        SELECT user_id,
               regexp_replace('@u' || user_id || ':https://matrix.example.org',
                              '^(.+?):https://matrix\.(.+)$', '\1:\2') AS normalized
        FROM (SELECT DISTINCT user_id FROM events)"""),
      doc = "T6: homeserver-url rewrite regex (client.ts:151)"),

    // T7 — domain extraction via split (src/server/utils/db.utils.ts:233)
    "ref_t7_domain_extract" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .select($"user_id").distinct()
          .select($"user_id",
            graft.etl.Ingest.userDomain(concat(lit("@u"), $"user_id", lit(":example.org"))).as("domain"))
      },
      oracle = Some("""
        SELECT user_id, split_part('@u' || user_id || ':example.org', ':', 2) AS domain
        FROM (SELECT DISTINCT user_id FROM events)"""),
      doc = "T7: homeserver domain from user id (db.utils.ts:233)"),

    // Q1 — rooms ordered by derived last_message_timestamp
    // (src/server/api/routes.ts:92 + SURVEY §1.5 derivation)
    "ref_q1_rooms_by_recency" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_messages"),
            unix_micros(max($"ts")).as("last_message_ts_us"))
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n_messages, epoch_us(max(ts)) AS last_message_ts_us
        FROM events GROUP BY user_id"""),
      doc = "Q1: room list + derived last_message_timestamp (routes.ts:92)"),

    // Q2 — room detail + aggregated membership list (json_agg →
    // sorted collect_set) (src/server/api/routes.ts:106-112)
    "ref_q2_room_detail" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .filter($"user_id" === 7)
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"),
            array_join(array_sort(collect_set($"event_type")), ",").as("event_types"))
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n_events,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types
        FROM events WHERE user_id = 7 GROUP BY user_id"""),
      doc = "Q2: point lookup + decorrelated json_agg (routes.ts:106-112)"),

    // Q3 — keyset-paginated message page (src/server/api/routes.ts:126-145)
    "ref_q3_message_page" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        // keyset predicate directly on the TimestampType column — a
        // foldable timestamp literal pushes to the parquet scan as
        // LessThan against the µs column stats (QueriesSpec asserts it
        // lands in PushedFilters)
        val cut = to_timestamp(lit("2024-01-25 00:00:00"))
        Tables.eventsNorm(s, dir)
          .filter($"user_id" === 7 && $"ts" < cut)
          .orderBy($"ts".desc, $"event_id".desc)
          .limit(50)
          .select($"event_id", unix_micros($"ts").as("ts_us"),
            $"event_type", dbl(dec($"value")).as("value"))
      },
      oracle = Some("""
        SELECT event_id, epoch_us(ts) AS ts_us, event_type,
               CAST(value::DECIMAL(12,2) AS DOUBLE) AS value
        FROM events
        WHERE user_id = 7 AND ts < TIMESTAMP '2024-01-25 00:00:00'
        ORDER BY ts DESC, event_id DESC LIMIT 50"""),
      doc = "Q3: keyset pagination → TakeOrderedAndProject (routes.ts:126-145)"),

    // Q4 — derived users view with deterministic last-write-wins
    // (src/server/api/routes.ts:154 + SURVEY §1.5)
    "ref_q4_users_lww" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts".desc, $"event_id".desc)
        ev(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_type".as("last_event_type"),
            dbl(dec($"value")).as("last_value"),
            unix_micros($"ts").as("last_ts_us"))
      },
      oracle = Some("""
        SELECT user_id, event_type AS last_event_type,
               CAST(value::DECIMAL(12,2) AS DOUBLE) AS last_value,
               epoch_us(ts) AS last_ts_us
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"""),
      doc = "Q4: users view via LWW row_number (routes.ts:154, SURVEY §1.5)"),

    // Q5 — the reference's one explicit join: user ⋈ dimension
    // (src/server/api/routes.ts:168-176); customer is the dim stand-in.
    "ref_q5_user_rooms_join" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val c = Tables.customer(s, dir)
        ev(s, dir)
          .filter($"event_type" === "purchase")
          .join(broadcast(c), $"user_id" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_purchases"),
            dbl(sum(dec($"value"))).as("total_value"))
      },
      oracle = Some("""
        SELECT c_mktsegment, count(*) AS n_purchases,
               CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY c_mktsegment"""),
      doc = "Q5: explicit equi-join to dimension (routes.ts:168-176)"),

    // Q6 — stats: multi-metric single row (src/server/api/routes.ts:216-224
    // + dashboard.tsx:8-14 implied metrics)
    "ref_q6_stats" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir).agg(
          count(lit(1)).as("total_events"),
          countDistinct($"user_id").as("total_users"),
          sum(when($"event_type" === "error", 1L).otherwise(0L)).as("error_events"),
          unix_micros(max($"ts")).as("last_sync_us"),
          dbl(sum(dec($"value"))).as("total_value"))
      },
      oracle = Some("""
        SELECT count(*) AS total_events,
               count(DISTINCT user_id) AS total_users,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_events,
               epoch_us(max(ts)) AS last_sync_us,
               CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
        FROM events"""),
      doc = "Q6: dashboard stats scalar aggregates (routes.ts:216-224, dashboard.tsx:8-14)"),

    // Q7 — logs tail (src/server/api/routes.ts:238-241)
    "ref_q7_logs_tail" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .orderBy($"ts".desc, $"event_id".desc)
          .limit(100)
          .select($"event_id", unix_micros($"ts").as("ts_us"), $"event_type")
      },
      oracle = Some("""
        SELECT event_id, epoch_us(ts) AS ts_us, event_type
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 100"""),
      doc = "Q7: tail by timestamp → TakeOrderedAndProject (routes.ts:238-241)"),

    // Q8 — config singleton (src/server/api/routes.ts:251)
    "ref_q8_config_singleton" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        ev(s, dir)
          .orderBy($"event_id".asc)
          .limit(1)
          .select($"event_id", $"event_type", $"user_id")
      },
      oracle = Some("""
        SELECT event_id, event_type, user_id
        FROM events ORDER BY event_id ASC LIMIT 1"""),
      doc = "Q8: LIMIT 1 singleton read (routes.ts:251)"),

    // T10 — boundary schema validation (Zod ⇄ from_json + enum check,
    // src/server/api/routes.ts:15-19,189-202): parse the JSONB column
    // against a declared struct, classify rows valid/invalid, enforce
    // the enum domain with isin.
    "ref_t10_schema_validation" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(StructField("k", LongType)))
        ev(s, dir)
          .withColumn("parsed", from_json($"props", schema))
          .withColumn("valid_json", $"parsed".isNotNull && $"parsed.k".isNotNull)
          .withColumn("valid_enum", $"event_type".isin(
            "click", "view", "purchase", "signup", "error"))
          .groupBy($"valid_json", $"valid_enum")
          .agg(count(lit(1)).as("n"), min($"event_id").as("first_event"))
      },
      oracle = Some("""
        SELECT (json_extract(props, '$.k') IS NOT NULL) AS valid_json,
               event_type IN ('click','view','purchase','signup','error') AS valid_enum,
               count(*) AS n, min(event_id) AS first_event
        FROM events GROUP BY 1, 2"""),
      doc = "T10: boundary validation via from_json + enum isin (routes.ts:15-19)"),

    // L1 — upsert with exact dedup + last-write-wins on the natural key
    // (src/server/utils/db.utils.ts:30-66). Batch expression of the merge.
    "ref_l1_upsert_lww" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts".desc, $"event_id".desc)
        ev(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_type", $"event_id",
            unix_micros($"ts").as("ts_us"), dbl(dec($"value")).as("value"))
      },
      oracle = Some("""
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
               CAST(value::DECIMAL(12,2) AS DOUBLE) AS value
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1"""),
      doc = "L1: ON CONFLICT DO UPDATE = dedup + LWW per key (db.utils.ts:30-66)"),

    // L2 — SCD-1 change-detection merge: snapshot (first half of window)
    // merged with updates (second half); only rows where the tracked value
    // IS DISTINCT FROM the snapshot survive to the update set
    // (src/server/utils/db.utils.ts:68-104, `IS DISTINCT FROM` ⇄ !(a<=>b)).
    "ref_l2_change_detection" -> QueryDef(
      build = (s, dir) => {
        import s.implicits._
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts".desc, $"event_id".desc)
        def lww(df: DataFrame) = df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        val base = ev(s, dir)
        val snap = lww(base.filter($"ts" < cut))
          .select($"user_id", $"event_type", dec($"value").as("old_value"))
        val upd = lww(base.filter($"ts" >= cut))
          .select($"user_id", $"event_type", dec($"value").as("new_value"))
        snap.join(upd, Seq("user_id", "event_type"), "full_outer")
          .filter(!($"old_value" <=> $"new_value"))
          .select($"user_id", $"event_type",
            dbl($"old_value").as("old_value"), dbl($"new_value").as("new_value"),
            coalesce(dbl($"new_value"), dbl($"old_value")).as("merged_value"))
      },
      oracle = Some("""
        WITH snap AS (
          SELECT user_id, event_type, value::DECIMAL(12,2) AS old_value
          FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
          QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1),
        upd AS (
          SELECT user_id, event_type, value::DECIMAL(12,2) AS new_value
          FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
          QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1)
        SELECT user_id, event_type,
               CAST(old_value AS DOUBLE) AS old_value,
               CAST(new_value AS DOUBLE) AS new_value,
               CAST(coalesce(new_value, old_value) AS DOUBLE) AS merged_value
        FROM snap FULL OUTER JOIN upd USING (user_id, event_type)
        WHERE old_value IS DISTINCT FROM new_value"""),
      doc = "L2: SCD-1 change-detection merge, IS DISTINCT FROM ⇄ !(<=>) (db.utils.ts:68-104)")
  )
}
