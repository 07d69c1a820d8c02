package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

import graft.operators.Dedup.polyhashSql
import graft.plans.HashExpressions

/** Declarative (higher-order SQL) twins of the native MinHash expressions
  * in [[graft.plans.HashExpressions]]. Only the parity specs use them; the
  * engine runs the native forms.
  *
  * MinHash signature: for each of `numHashes` permutations
  * h_i(x) = (a_i * polyhash(x) + b_i) mod p, take the min over shingles.
  * The base hash is a rolling polynomial over character codes (Rabin-Karp,
  * base 1000003 mod 2^31-1) rather than xxhash64: same LSH behavior, but
  * recomputable in plain SQL, so the DuckDB oracle replays the identical
  * pipeline. */
object DedupTwins {

  /** Base shingle hashes, distinct AFTER hashing (dedup by hash), matching
    * the native `graft_shingle_polyhashes`. */
  def shingleHashes(textCol: String, shingleN: Int): Column =
    expr(shingleHashesSql(textCol, shingleN))

  /** MinHash signature over a pre-computed shingle-hash array column:
    * min over shingles of h_i(x) = (a_i * x + b_i) mod p per permutation.
    * p = 2^31-1 keeps (a*h + b) under 2^62 — safe in ANSI 64-bit arithmetic.
    * Deterministic (seeded a_i, b_i). */
  def minhashFromHashes(hashCol: String, numHashes: Int): Column = {
    val p = HashExpressions.P2n31
    val (as, bs) = HashExpressions.minhashCoeffs(numHashes)
    val mins = as.zip(bs).map { case (a, b) =>
      s"array_min(transform($hashCol, h -> (h * ${a}L + ${b}L) % ${p}L))"
    }
    expr(s"array(${mins.mkString(",")})")
  }

  def minhashSignature(textCol: String, shingleN: Int, numHashes: Int): Column =
    minhashFromHashes(shingleHashesSql(textCol, shingleN), numHashes)

  private def shingleHashesSql(textCol: String, n: Int): String =
    s"array_distinct(transform(${rawShingleSql(textCol, n)}, " +
      s"s -> ${polyhashSql("s", HashExpressions.PolyBase1)}))"

  private def rawShingleSql(textCol: String, n: Int): String =
    s"case when length($textCol) < $n then array($textCol) else " +
      s"transform(sequence(0, length($textCol) - $n), i -> substring($textCol, i + 1, $n)) end"
}
