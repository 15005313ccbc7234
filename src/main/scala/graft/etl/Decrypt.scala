package graft.etl

import java.nio.charset.StandardCharsets
import javax.crypto.spec.{GCMParameterSpec, PBEKeySpec, SecretKeySpec}
import javax.crypto.{Cipher, SecretKeyFactory}
import java.util.Base64

/** Storage-key parameters for the ingest-edge decrypt (T8): the
  * PBKDF2-SHA512 inputs the reference reads from secret-storage key
  * info (crypto.ts:202-211). One config per pipeline ≙ one storage key
  * per account (client.ts:348-371). */
final case class CryptoConfig(passphrase: String, saltB64: String, iterations: Int)

/** E2EE layer (T8): PBKDF2-SHA512 key derivation + AES-GCM-256 payload
  * crypto, applied at the ingest edge by one Scala UDF, [[decryptUdf]]
  * (called by `Ingest.decryptMessages`).
  *
  * Parameters mirror the reference exactly (src/app/matrix/crypto.ts:
  * 181-224: PBKDF2WithHmacSHA512, iterations from key info, 32-byte key;
  * src/app/matrix/client.ts:348-371: 256-bit AES-GCM storage key).
  * Crypto is I/O-adjacent, not relational, so a plain UDF (not a codegen
  * Expression) is the right altitude — it runs once per encrypted event
  * at the edge, never in an analytic hot path.
  */
object Decrypt {

  val KeyLenBytes = 32 // crypto.ts:16 (32-byte key)
  val GcmTagBits = 128
  val GcmIvBytes = 12

  /** PBKDF2-SHA512 (crypto.ts:202-211). */
  def deriveKey(passphrase: String, salt: Array[Byte], iterations: Int): Array[Byte] = {
    val spec = new PBEKeySpec(
      passphrase.toCharArray, salt, iterations, KeyLenBytes * 8)
    SecretKeyFactory.getInstance("PBKDF2WithHmacSHA512")
      .generateSecret(spec).getEncoded
  }

  /** Derivations actually executed (not served from cache) — lets the
    * spec prove an N-row decrypt derives the key once, not N times. */
  val deriveCount = new java.util.concurrent.atomic.AtomicLong(0)

  // (passphrase, salt_b64, iterations) is constant across a sync batch,
  // but the UDF sees it per ROW — without memoization every event pays
  // the full ~10^5-hash PBKDF2 cost. Per-executor bounded LRU.
  private val keyCache =
    new java.util.LinkedHashMap[(String, String, Int), Array[Byte]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Int), Array[Byte]]): Boolean =
        size() > 64
    }

  /** Memoized derivation keyed on (passphrase, salt_b64, iterations).
    * The whole get-or-derive is one critical section so concurrent
    * first-use tasks (a cold micro-batch fans out to many cores at
    * once) can't race into N duplicate derivations — a cold key derives
    * exactly once per executor. Serializing the ~100ms PBKDF2 per NEW
    * key is the point, not a cost: there is one storage key per account
    * and every subsequent row is a lock-hold of a map lookup. */
  def deriveKeyCached(passphrase: String, saltB64: String, iterations: Int): Array[Byte] =
    keyCache.synchronized {
      val k = (passphrase, saltB64, iterations)
      val hit = keyCache.get(k)
      if (hit != null) hit
      else {
        deriveCount.incrementAndGet()
        val derived = deriveKey(passphrase, Base64.getDecoder.decode(saltB64), iterations)
        keyCache.put(k, derived)
        derived
      }
    }

  /** AES-GCM-256 encrypt; output = base64(iv ‖ ciphertext ‖ tag). */
  def encrypt(plaintext: String, key: Array[Byte], iv: Array[Byte]): String = {
    require(key.length == KeyLenBytes && iv.length == GcmIvBytes)
    val cipher = Cipher.getInstance("AES/GCM/NoPadding")
    cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"),
      new GCMParameterSpec(GcmTagBits, iv))
    val ct = cipher.doFinal(plaintext.getBytes(StandardCharsets.UTF_8))
    Base64.getEncoder.encodeToString(iv ++ ct)
  }

  /** AES-GCM-256 decrypt of base64(iv ‖ ct ‖ tag); None on auth failure
    * (the reference records failures in the per-row `error` column —
    * schema.ts:66 — rather than aborting the sync). */
  def decrypt(payloadB64: String, key: Array[Byte]): Option[String] =
    try {
      val all = Base64.getDecoder.decode(payloadB64)
      val iv = all.take(GcmIvBytes)
      val ct = all.drop(GcmIvBytes)
      val cipher = Cipher.getInstance("AES/GCM/NoPadding")
      cipher.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
        new GCMParameterSpec(GcmTagBits, iv))
      Some(new String(cipher.doFinal(ct), StandardCharsets.UTF_8))
    } catch { case _: Exception => None }

  /** The pipeline's decrypt UDF, closure-capturing: the
    * [[CryptoConfig]] ships to executors inside the task closure, NOT as
    * literal columns in the query plan, so key material never appears in
    * EXPLAIN output, the Spark UI SQL tab, or event logs — the reference
    * keeps key material in secret storage and never in query text
    * (crypto.ts:202-211). The key comes from [[deriveKeyCached]], so a
    * batch derives it once per executor, not once per row. */
  def decryptUdf(c: CryptoConfig): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((payload: String) =>
      decrypt(payload, deriveKeyCached(c.passphrase, c.saltB64, c.iterations)).orNull)
}
