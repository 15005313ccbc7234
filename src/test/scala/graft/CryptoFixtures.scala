package graft

import java.security.SecureRandom
import graft.etl.Decrypt

/** Ciphertext fixtures for the specs that feed encrypted events (T8). */
object CryptoFixtures {
  /** `Decrypt.encrypt` under a fresh random 12-byte IV. */
  def encryptRandomIv(plaintext: String, key: Array[Byte]): String = {
    val iv = new Array[Byte](Decrypt.GcmIvBytes)
    new SecureRandom().nextBytes(iv)
    Decrypt.encrypt(plaintext, key, iv)
  }
}
