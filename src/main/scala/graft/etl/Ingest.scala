package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's ingest transforms T1–T7 (SURVEY §2.2) as reusable
  * DataFrame functions over the raw-event schema (Schemas.rawEvent).
  *
  * The reference applies these per-event inside EventEmitter callbacks
  * (src/app/matrix/client.ts:259-284); here they are set-oriented column
  * expressions, so the whole pipeline is one narrow (shuffle-free)
  * projection Catalyst can fuse into a single codegen stage.
  */
object Ingest {

  /** Source boundary: raw events as JSON lines — the wire shape of the
    * SDK's MatrixEvent (FIXTURES.md A1 ≙ client.ts:272-276 field reads).
    * Works identically over `spark.read.text` and `readStream.text`
    * (from_json over a text source rather than the JSON reader, exactly
    * so batch and streaming share one parse path). A malformed line, or
    * a valid object missing its identity fields, surfaces through the
    * same in-row error channel the decrypt path uses (schema.ts:66): it
    * becomes a row with a synthetic event_id, event_type
    * 'm.graft.corrupt', and the offending line in `error` — so
    * [[quarantine]] splits it off to the logs table and a bad line can
    * never kill the batch.
    *
    * Identity = event_id, room_id, sender, origin_server_ts: all four
    * are mandatory on every wire event, and the last two back NOT NULL
    * columns of the reference's messages table (schema.ts:60,63) — its
    * insert would reject them. The check matters beyond missing keys:
    * from_json is PERMISSIVE, so a present-but-wrong-TYPE field (e.g. a
    * string origin_server_ts) parses to a silent null that would
    * otherwise flow a null timestamp into the LWW merge. */
  def rawFromJsonLines(lines: DataFrame): DataFrame = {
    val e = from_json(col("value"), Schemas.rawEvent)
    val ok = e.isNotNull &&
      e.getField("event_id").isNotNull && e.getField("room_id").isNotNull &&
      e.getField("sender").isNotNull && e.getField("origin_server_ts").isNotNull
    lines.select(
      when(ok, e.getField("event_id"))
        .otherwise(concat(lit("$corrupt-"), md5(col("value")))).as("event_id"),
      when(ok, e.getField("room_id")).otherwise(lit("")).as("room_id"),
      when(ok, e.getField("sender")).as("sender"),
      when(ok, e.getField("event_type")).otherwise(lit("m.graft.corrupt")).as("event_type"),
      when(ok, e.getField("origin_server_ts")).as("origin_server_ts"),
      when(ok, e.getField("content")).as("content"),
      when(ok, e.getField("relates_to")).as("relates_to"),
      coalesce(when(ok, e.getField("is_encrypted")), lit(false)).as("is_encrypted"),
      // absent flag must read as "live timeline", not null — a null
      // would silently drop the row at the T1 filter
      coalesce(when(ok, e.getField("to_start_of_timeline")), lit(false))
        .as("to_start_of_timeline"),
      when(ok, e.getField("error")).otherwise(col("value")).as("error"))
  }

  /** T1 — drop backfill/paginated events (client.ts:272-274). */
  def dropBackfill(raw: DataFrame): DataFrame =
    raw.filter(!col("to_start_of_timeline"))

  /** T2 — keep only message events (client.ts:276). */
  def onlyMessages(raw: DataFrame): DataFrame =
    raw.filter(col("event_type") === "m.room.message")

  /** T3 — event → messages-row projection (db.utils.ts:49-59).
    * `id` is a deterministic surrogate (md5 of the natural key) rather
    * than the reference's gen_random_uuid(), so reruns are idempotent. */
  def projectMessage(raw: DataFrame): DataFrame =
    raw.select(
      md5(col("event_id")).as("id"),
      col("event_id"),
      col("room_id"),
      col("sender"),
      col("content"),
      col("event_type"),
      col("origin_server_ts").as("timestamp"),
      col("is_encrypted"),
      col("relates_to"),
      col("error"),
      current_timestamp().as("processed_at"))

  /** T1+T2+T3 fused: the steady-state message ingest path (SURVEY §3 E2). */
  def messagesFromRaw(raw: DataFrame): DataFrame =
    projectMessage(onlyMessages(dropBackfill(raw)))

  /** JS-`\s`-equivalent whitespace ∪ matrix-js-sdk's hidden-char set
    * (utils.ts removeHiddenCharsRegex: zero-width/direction marks,
    * combining diacritics, U+FEFF, U+061C). Java's `\s` is ASCII-only,
    * so the JS Unicode whitespace members are listed explicitly. */
  private val HiddenCharsRe =
    "[\\s\\u00A0\\u1680\\u2000-\\u200F\\u2028\\u2029\\u202A-\\u202F" +
      "\\u205F\\u3000\\uFEFF\\u061C\\u0300-\\u036F]"

  /** LRO/RLO direction-override chars calculateDisplayName strips from
    * every returned name (utils.ts removeDirectionOverrideChars). */
  private val DirOverrideRe = "[\\u202D\\u202E]"

  /** T4 — member projection (db.utils.ts:89-97,186-194). Input: member
    * events (event_type = 'm.room.member', content JSON with
    * displayname/avatar_url/membership).
    *
    * Null-coalesce applies ONLY to the columns the reference itself
    * defaults: avatar_url carries `?? ''` (db.utils.ts:92), and
    * display_name is the SDK-computed member.name, whose fallback is
    * the USER ID — matrix-js-sdk's calculateDisplayName returns the
    * userId whenever the displayname is falsy, and "falsy" there is
    * wider than absent/empty: a non-STRING JSON value (typeof check) or
    * a name that is empty after hidden-char stripping (zero-width/
    * combining/whitespace chars) also falls back. Non-string-ness is
    * detected through Spark 4's VARIANT type introspection
    * (schema_of_variant over try_variant_get), since get_json_object
    * coerces numbers/objects to text and would hide the type. When
    * several DIFFERENT members of one room share a (hidden-char-
    * stripped) name, calculateDisplayName disambiguates each of them to
    * `Name (user_id)` — reproduced here with a window over
    * (room_id, stripped name): partitions are bounded by room
    * membership, so the one extra shuffle this adds to the T4 path
    * stays skew-safe at scale. Stripping applies NFD first (the SDK's
    * removeHiddenChars order) via the native [[graft.functions.NfdNormalize]]
    * expression, so composed and decomposed forms share a key.
    *
    * Scope: the SDK consults live roomState, not the events that happen
    * to share a sync response. `roomState` therefore takes the caller's
    * persisted participants snapshot (the incremental path passes the
    * current table; backfill passes None because the full corpus IS the
    * room state), and the collision window runs over the POST-batch
    * room state: persisted rows ∪ batch, with the batch superseding a
    * user's own persisted name (a stale pre-rename name must not count,
    * exactly as roomState holds one current name per member). The same
    * one-current-name rule applies WITHIN a batch: when one micro-batch
    * carries several member events for the same (user, room) — an
    * intra-batch rename — only the user's LATEST clean row contributes
    * a collision key (every row is still rendered; superseded renders
    * are then discarded by the LWW merge anyway). Without this, a
    * superseded pre-rename name would keep disambiguating OTHER members
    * sharing it, diverging from the post-batch roomState scope.
    * Persisted rows only contribute collision keys — they are never re-emitted or
    * retro-renamed, because the reference persists only the member each
    * event is about (db.utils.ts:89-97; an existing member's rendered
    * name changes in SDK memory when a twin joins, but the reference DB
    * row keeps its stored name until that member's next own event).
    * Keys for persisted rows are recovered by exact inversion of this
    * projection's own rendering — see [[stateCollisionKeys]].
    * `membership` is different: the
    * reference passes member.membership straight into
    * participants.membership TEXT NOT NULL (db.utils.ts:93,
    * schema.ts:45) with no fallback, so a member event whose content
    * yields no membership — absent key, JSON null, non-object or
    * unparseable content (all of which get_json_object surfaces as
    * null) — is REJECTED by its insert, never defaulted. Mirror that
    * through the same in-row error channel as the JSONL boundary:
    * such rows carry a non-null `error` (plus their event_id for the
    * log line) and [[Pipeline]] routes them to `logs` instead of
    * letting a silent "" reach the L2 change-detection merge. */
  def projectParticipant(raw: DataFrame,
      roomState: Option[DataFrame] = None): DataFrame = {
    graft.functions.Functions.install(raw.sparkSession)
    // r22 (guide §4.4's duplicate-evaluation trap, OPTIMIZATION_r22.md
    // row 7): membership/displayname/avatar used to ride three
    // get_json_object calls, each inlined by CollapseProject into every
    // consuming expression — `dn` alone feeds truthy/base/stripped/
    // force, so content was Jackson-parsed several times per row
    // (0.33 s per extraction per 100k rows at sf0.1). json_tuple is a
    // GENERATOR: one parse per row, three materialized columns, and
    // the projection cannot inline it. Per-field semantics match
    // get_json_object's top-level `$.k` paths (same Jackson text-out;
    // IngestJsonSpec pins the tricky cases).
    val member0 = raw.filter(col("event_type") === "m.room.member")
      .select(col("*"), json_tuple(col("content"),
        "membership", "displayname", "avatar_url")
        .as(Seq("__memb", "__dn", "__av")))
    val membership = col("__memb")
    val dn = col("__dn")
    // typeof displayname !== "string" → falsy (calculateDisplayName):
    // VARIANT introspection sees the true JSON type where
    // get_json_object would coerce 42 → "42" or an object → its text
    val dnIsString = schema_of_variant(
      try_variant_get(try_parse_json(col("content")), "$.displayname", "variant")) <=> lit("STRING")
    // NFD BEFORE stripping (removeHiddenChars): composed "é" and
    // decomposed "e"+combining-acute must strip to the same key
    val stripped =
      regexp_replace(call_function("nfd_normalize", dn), HiddenCharsRe, "")
    // member.name truthiness: a real string, non-empty even after
    // hidden-char stripping, and not the member's own mxid (that case
    // returns selfUserId undisambiguated)
    val truthy = dnIsString && dn =!= "" && stripped =!= "" && dn =!= col("sender")
    val base = when(truthy, regexp_replace(dn, DirOverrideRe, "")).otherwise(col("sender"))
    // roomState keys its display-name cache by the hidden-char-stripped
    // name; fallback rows get a per-user sentinel key so they never
    // disambiguate (the cache only holds real displaynames) and the
    // window partition stays per-user-small. A membership-less row is
    // REJECTED by the reference's insert (schema.ts:45) — it is
    // quarantined downstream and must not alter anyone's scope, so it
    // gets a per-event sentinel key (its own render is discarded)
    val collisionKey = when(membership.isNull,
        concat(lit(" err:"), col("event_id")))
      .when(truthy, stripped)
      .otherwise(concat(lit(" mxid:"), col("sender")))
    // shouldDisambiguate's unconditional rules: a name that LOOKS like
    // an mxid (impersonation defense) or carries LTR/RTL marks (which
    // could visually reorder surrounding text) always shows the real
    // mxid, collision or not. One alternation regex ≡ rlike(A)||rlike(B)
    // (RLIKE is find-anywhere; null in ⟺ null out both ways) at half
    // the regex passes.
    val forceDisambiguate = dn.rlike("@.+:.+|[\\u200E\\u200F\\u202A-\\u202F]")
    val batch = member0.select(
      col("event_id"),
      col("sender").as("user_id"),
      col("room_id"),
      truthy.as("__truthy"),
      base.as("__base"),
      collisionKey.as("__key"),
      forceDisambiguate.as("__force"),
      lit(false).as("__state"),
      coalesce(col("__av"), lit("")).as("avatar_url"),
      membership.as("membership"),
      col("origin_server_ts").as("joined_ts"),
      when(membership.isNull,
        lit("member_missing_membership: content has no usable membership"))
        .as("error"))
    // one current name per member, intra-batch too: only each
    // (user, room)'s LATEST clean row is live in the collision scope
    // (clean rows sort first, so a trailing quarantined event cannot
    // shadow the real latest name; a user whose rows are ALL
    // quarantined has no live row and contributes nothing). The window
    // partitions by member — bounded by one member's events in one
    // batch, never skewed by room size.
    val latestW = Window.partitionBy(col("user_id"), col("room_id"))
      .orderBy(col("error").isNull.desc, col("joined_ts").desc, col("event_id").desc)
    val batchScoped = batch.withColumn("__live",
      row_number().over(latestW) === 1 && col("error").isNull)
    // post-batch room state: persisted keys ride along (rows flagged
    // __state), contribute to the window, and are filtered back out.
    // Only CLEAN batch rows supersede a user's persisted row — a
    // quarantined event never lands, so its user's stored name must
    // keep counting for disambiguation (reference: rejected insert
    // leaves the row untouched)
    val scoped = roomState match {
      case None => batchScoped
      case Some(st) =>
        batchScoped.unionByName(
          stateCollisionKeys(st, batch.filter(col("error").isNull)),
          allowMissingColumns = true)
    }
    // "some OTHER live member shares the key" ⟺ a live user_id in the
    // (room, key) partition differs from mine — min/max over the LIVE
    // rows only, so superseded intra-batch names never disambiguate
    // anyone. Constant aggregation state, where collect_set would hold
    // the whole member list per row (an adversarial room with
    // thousands of same-named members would turn that partition
    // quadratic). A stale row whose key no longer has any live holder
    // yields null min/max → null predicate → no suffix (its render is
    // LWW-discarded downstream regardless).
    val keyWindow = Window.partitionBy(col("room_id"), col("__key"))
    val liveUser = when(col("__live"), col("user_id"))
    val liveMin = min(liveUser).over(keyWindow)
    val othersShareName = (liveMin =!= max(liveUser).over(keyWindow)) ||
      (liveMin.isNotNull && liveMin =!= col("user_id"))
    scoped
      .withColumn("__collide", othersShareName)
      .filter(!col("__state"))
      .select(
        col("event_id"),
        col("user_id"),
        col("room_id"),
        when(col("__truthy") && (col("__collide") || col("__force")),
          concat(col("__base"), lit(" ("), col("user_id"), lit(")")))
          .otherwise(col("__base")).as("display_name"),
        col("avatar_url"),
        col("membership"),
        col("joined_ts"),
        current_timestamp().as("last_updated"),
        current_timestamp().as("created_at"),
        col("error"))
  }

  /** Collision keys for already-persisted participant rows, recovered
    * by EXACT inversion of [[projectParticipant]]'s rendering — the
    * table stores only the rendered name, but the SDK's cache keys on
    * the raw one:
    *
    *  - a stored name equal to the user_id is the falsy fallback (or
    *    the own-mxid case, which renders identically) → the same
    *    per-user sentinel key the projection assigns, so it can never
    *    collide with a real name;
    *  - a stored name ending in `" (user_id)"` was suffixed by the
    *    projection. The inversion is unambiguous: a RAW displayname
    *    that literally ends in `" (own-mxid)"` contains an
    *    mxid-lookalike, which the impersonation rule ALWAYS
    *    force-disambiguates — so such a name also reaches the table
    *    with one appended suffix, and stripping exactly one recovers
    *    the base in every case;
    *  - anything else is the base itself (LRO/RLO were stripped at
    *    render time; they are inside [[HiddenCharsRe]]'s ranges, so
    *    the recovered key is unaffected by their absence).
    *
    * Only rooms present in the batch are consulted: the left-semi join
    * filters rows exactly, while the PHYSICAL scan is already pruned by
    * the caller — [[Pipeline.applyBatch]] hands in a
    * [[Catalog.readForKeys]] bucket-pruned read over the batch's rooms,
    * so at cluster scale a k-room batch opens ≤ k buckets, never the
    * table (the semi join alone would not prune the scan). A user's own
    * persisted row is dropped when the batch carries a newer event for
    * them (left-anti: the batch supersedes — post-batch room state, one
    * current name per member). */
  private[graft] def stateCollisionKeys(state: DataFrame, batch: DataFrame): DataFrame = {
    val dn = col("display_name")
    val suffix = concat(lit(" ("), col("user_id"), lit(")"))
    val bs = when(dn.endsWith(suffix),
      dn.substr(lit(1), length(dn) - length(suffix))).otherwise(dn)
    val key = when(dn <=> col("user_id"), concat(lit(" mxid:"), col("user_id")))
      .otherwise(regexp_replace(call_function("nfd_normalize", bs), HiddenCharsRe, ""))
    state
      .join(batch.select("room_id").distinct(), Seq("room_id"), "left_semi")
      .join(batch.select("user_id", "room_id").distinct(),
        Seq("user_id", "room_id"), "left_anti")
      .select(col("room_id"), col("user_id"), key.as("__key"),
        lit(true).as("__state"),
        // a surviving persisted row IS the member's current name —
        // always live in the post-batch scope
        lit(true).as("__live"))
  }

  /** T5 — room-state extraction from state events (db.utils.ts:107-116):
    * name/topic/avatar from their state events, is_encrypted from the
    * existence of m.room.encryption, created_ts from m.room.create. */
  def projectRooms(raw: DataFrame): DataFrame = {
    val state = raw.filter(col("event_type").isin(
      "m.room.name", "m.room.topic", "m.room.create",
      "m.room.avatar", "m.room.encryption"))
    state.groupBy(col("room_id")).agg(
      coalesce(max(when(col("event_type") === "m.room.name",
        get_json_object(col("content"), "$.name"))), lit("")).as("name"),
      coalesce(max(when(col("event_type") === "m.room.topic",
        get_json_object(col("content"), "$.topic"))), lit("")).as("topic"),
      lit("join").as("membership"),
      max(col("event_type") === "m.room.encryption").as("is_encrypted"),
      coalesce(min(when(col("event_type") === "m.room.create",
        col("origin_server_ts"))), lit(0L)).as("created_ts"),
      coalesce(max(when(col("event_type") === "m.room.avatar",
        get_json_object(col("content"), "$.url"))), lit("")).as("avatar_url"),
      current_timestamp().as("last_updated"),
      current_timestamp().as("created_at"))
      .select("room_id", "name", "topic", "membership", "is_encrypted",
        "created_ts", "avatar_url", "last_updated", "created_at")
  }

  /** T6 — user-id normalization regex (client.ts:151). */
  def normalizeUserId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "^(.+?):https://matrix\\.(.+)$", "$1:$2")

  /** T7 — homeserver domain from a user id (db.utils.ts:233). */
  def userDomain(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(c, ":").getItem(1)

  /** Error-channel routing (schema.ts:66): quarantine split. */
  def quarantine(messages: DataFrame): (DataFrame, DataFrame) =
    (messages.filter(col("error").isNull),
      messages.filter(col("error").isNotNull))

  /** T8 — hot-path decryption (crypto.ts:181-224): rows flagged
    * `is_encrypted` have their `content` replaced by the AES-GCM
    * plaintext; authentication failures (tampered/garbled payloads) set
    * the in-row `error` channel instead of aborting the batch — exactly
    * the reference's per-event error column (schema.ts:66) — and the
    * downstream [[quarantine]] split keeps them out of serving tables.
    * The key material travels in the UDF's task closure, never as plan
    * literals (it must not surface in EXPLAIN/UI/event logs); PBKDF2
    * runs once per (passphrase, salt, iterations) per executor
    * (memoized), never per row. Plaintext rows pass through untouched. */
  def decryptMessages(messages: DataFrame, crypto: CryptoConfig): DataFrame = {
    val dec = Decrypt.decryptUdf(crypto)(col("content"))
    messages
      .withColumn("__dec", when(col("is_encrypted"), dec))
      .withColumn("error",
        when(col("is_encrypted") && col("__dec").isNull,
          lit("decrypt_failed: AES-GCM authentication")).otherwise(col("error")))
      .withColumn("content",
        when(col("__dec").isNotNull, col("__dec")).otherwise(col("content")))
      .drop("__dec")
  }
}
