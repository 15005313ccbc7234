package graft

import graft.etl.{CryptoConfig, Decrypt, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

class DecryptSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 2, appName = "graft-crypto")

  test("PBKDF2-SHA512 derivation is deterministic, 32 bytes") {
    val salt = "0123456789abcdef".getBytes
    val k1 = Decrypt.deriveKey("correct horse", salt, 1000)
    val k2 = Decrypt.deriveKey("correct horse", salt, 1000)
    assert(k1.toSeq == k2.toSeq)
    assert(k1.length == 32)
    assert(Decrypt.deriveKey("other pass", salt, 1000).toSeq != k1.toSeq)
    assert(Decrypt.deriveKey("correct horse", salt, 1001).toSeq != k1.toSeq)
  }

  test("AES-GCM roundtrip; tampering fails closed") {
    val key = Decrypt.deriveKey("pass", "salt0000".getBytes, 100)
    val ct = CryptoFixtures.encryptRandomIv("""{"body":"secret"}""", key)
    assert(Decrypt.decrypt(ct, key).contains("""{"body":"secret"}"""))
    // flip one ciphertext char → GCM auth must reject, not garble
    val tampered = ct.updated(20, if (ct(20) == 'A') 'B' else 'A')
    assert(Decrypt.decrypt(tampered, key).isEmpty)
    val wrongKey = Decrypt.deriveKey("wrong", "salt0000".getBytes, 100)
    assert(Decrypt.decrypt(ct, wrongKey).isEmpty)
  }

  private def messages(rows: Seq[(String, String, Boolean)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "content", "is_encrypted").withColumn("error", lit(null: String))
  }

  test("decryptMessages: ciphertext decrypts, tampering sets the error, plaintext passes") {
    val crypto = CryptoConfig("p", java.util.Base64.getEncoder.encodeToString("salty".getBytes), 10)
    val key = Decrypt.deriveKey("p", "salty".getBytes, 10)
    val ct = CryptoFixtures.encryptRandomIv("hello", key)
    val tampered = ct.updated(20, if (ct(20) == 'A') 'B' else 'A')
    val out = Ingest.decryptMessages(messages(Seq(
        ("$e1:x", CryptoFixtures.encryptRandomIv("hello", key), true),
        ("$e2:x", tampered, true),
        ("$p3:x", "plain", false))), crypto)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(3))).toMap
    assert(out("$e1:x") == ("hello", null))
    assert(out("$e2:x") == (tampered, "decrypt_failed: AES-GCM authentication"))
    assert(out("$p3:x") == ("plain", null))
  }

  test("decryptMessages derives the PBKDF2 key ONCE per (pass, salt, iters), not per row") {
    val salt = java.util.Base64.getEncoder.encodeToString("memosalt".getBytes)
    val key = Decrypt.deriveKey("memo-pass", "memosalt".getBytes, 10) // uncached: the cache stays cold
    val rows = (1 to 1000).map(i => (s"$$m$i:x", CryptoFixtures.encryptRandomIv(s"msg$i", key), true))
    val before = Decrypt.deriveCount.get()
    val n = Ingest.decryptMessages(messages(rows).repartition(2),
        CryptoConfig("memo-pass", salt, 10))
      .filter("error IS NULL").count()
    assert(n == 1000)
    val derives = Decrypt.deriveCount.get() - before
    // at most one derivation per partition-thread; never one per row
    // (local-mode UDF closures share the executor JVM's cache)
    assert(derives >= 1 && derives <= 4, s"expected memoized derivation, got $derives derivations for 1000 rows")
  }

  test("pipeline decrypt never ships key material through the query plan") {
    val pass = "hotpath-passphrase-7f3a"
    val saltB64 = java.util.Base64.getEncoder.encodeToString("hotsalt1".getBytes)
    val crypto = CryptoConfig(pass, saltB64, 10)
    val key = Decrypt.deriveKey(pass, "hotsalt1".getBytes, 10)
    val msgs = messages(Seq(("$e1:x", CryptoFixtures.encryptRandomIv("""{"body":"s"}""", key), true)))
    val out = Ingest.decryptMessages(msgs, crypto)
    // the passphrase/salt must live in the UDF closure, not plan text —
    // EXPLAIN output and the Spark UI SQL tab render plan literals
    val plans = out.queryExecution.toString + out.queryExecution.executedPlan.toString
    assert(!plans.contains(pass), "passphrase leaked into the query plan")
    assert(!plans.contains(saltB64), "salt leaked into the query plan")
    // and it still decrypts
    assert(out.select("content").collect()(0).getString(0) == """{"body":"s"}""")
  }
}
