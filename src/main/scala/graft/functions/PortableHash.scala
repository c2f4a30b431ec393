package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** 60-bit content hash computable bit-identically by Spark AND the DuckDB
  * oracle: the first 15 hex digits of md5 parsed as an integer (60 bits, so
  * it always fits a signed BIGINT and is never negative).
  *
  * Why not xxhash64/hash(): neither engine implements the other's native
  * 64-bit hash, which in round 1 left every hash-seeded operator (minhash,
  * simhash, winnowing fingerprints) without an oracle. md5 is the one hash
  * both engines expose with identical semantics (verified: fn_hash green).
  * md5 is ~3× slower per call than xxhash64, which is acceptable for
  * sketch construction (once per shingle/token, off the hot join path);
  * the scale-relevant property — uniform distribution for banding — is
  * unchanged.
  */
/** Pluggable hash family for sketch construction (minhash/simhash).
  * [[PortableHash]] is the declared/oracle mode (DuckDB-twinnable);
  * [[FastHash]] is the production mode (~2-3× cheaper per call, no oracle).
  * Both yield a 60-bit non-negative `hash` and 52-bit `hash2` halves, so
  * the Kirsch-Mitzenmacher combination h1 + i·h2 never overflows a signed
  * BIGINT under either strategy and band keys are drop-in interchangeable.
  */
trait HashStrategy {
  /** 60-bit non-negative hash of a (string-castable) column. */
  def hash(c: Column): Column
  /** Two independent 52-bit hashes (Kirsch-Mitzenmacher family basis). */
  def hash2(c: Column): (Column, Column)
}

/** Production sketch hashing: xxhash64, truncated to the same bit widths
  * as [[PortableHash]]. NOT oracle-twinnable (DuckDB has no xxhash64 with
  * Spark's semantics) — never used by a declared query; the scale path
  * (library callers at 100 TB) saves the md5 digest cost on every
  * shingle/token. NearDupSpec pins that both strategies verify the
  * same near-dup pairs on planted duplicates (est_jaccard is computed
  * from EXACT shingle sets, so agreement is over candidate recall).
  */
object FastHash extends HashStrategy {
  // Each member is DISTINCTLY seeded (the "1:"/"2:" prefix arguments feed
  // xxhash64's multi-arg avalanche): hash() and hash2()._1 under different
  // truncations of the SAME unseeded digest would be fully correlated,
  // which breaks the independent-family contract if a caller ever mixes
  // the simhash token hash with the minhash h1 on the same tokens.
  def hash(c: Column): Column = shiftrightunsigned(xxhash64(lit("1:"), c), 4)
  def hash2(c: Column): (Column, Column) =
    (shiftrightunsigned(xxhash64(c), 12),
      shiftrightunsigned(xxhash64(lit("2:"), c), 12))
}

object PortableHash extends HashStrategy {

  def hash(c: Column): Column = pHash(c)
  def hash2(c: Column): (Column, Column) = pHash2(c)

  /** Spark side: 60-bit hash of a (string-castable) column. */
  def pHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Spark side: seed-prefixed hash — the i-th member of a hash family. */
  def pHashSeeded(seed: Int, c: Column): Column =
    pHash(concat(lit(s"$seed:"), c))

  /** DuckDB oracle twin of [[pHash]] over SQL expression `e`. */
  def sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** DuckDB oracle twin of [[pHashSeeded]]. */
  def sqlSeeded(seed: Int, e: String): String = sql(s"'$seed:' || ($e)")

  // -------------------------------------------------------------------
  // Kirsch-Mitzenmacher double hashing for k-member hash FAMILIES
  // (minhash): h_i = h1 + i·h2 where h1/h2 are two independent 52-bit
  // slices of a SINGLE md5 — one digest per input instead of k, and
  // 52 + log2(16) = 56 bits keeps h_i inside a signed BIGINT with no
  // overflow in either engine. Distribution quality matches independent
  // seeds for banding purposes (Kirsch & Mitzenmacher, ESA 2006).
  // -------------------------------------------------------------------

  /** Spark side: (h1, h2) 52-bit halves of one md5. */
  def pHash2(c: Column): (Column, Column) = {
    val m = md5(c) // CSE dedups the two references in codegen
    (conv(substring(m, 1, 13), 16, 10).cast("long"),
      conv(substring(m, 14, 13), 16, 10).cast("long"))
  }

  /** DuckDB oracle twins of [[pHash2]]. */
  def sql2(e: String): (String, String) =
    (s"CAST('0x' || substr(md5($e), 1, 13) AS BIGINT)",
      s"CAST('0x' || substr(md5($e), 14, 13) AS BIGINT)")
}
