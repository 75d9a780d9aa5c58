package graft.functions

/** Deterministic hashing constants shared by the Spark operators and the
  * DuckDB oracle SQL (the SQL is generated from the same values, so both
  * engines compute bit-identical signatures).
  *
  * All hashes bottom out in md5 (available and identical in Spark and
  * DuckDB): a token's 60-bit id is the first 15 hex chars of its md5,
  * parsed base-16 (Spark `conv(...,16,10)` ≡ DuckDB `CAST('0x'||... )`),
  * verified equal across engines. MinHash permutations are the classic
  * universal-hash family h(x) = (a·x + b) mod P with P = 2^31 − 1 and
  * (a, b) drawn from a fixed LCG, inlined as literals on both sides.
  */
object Hashing {

  /** Mersenne prime 2^31 − 1: keeps a·x + b < 2^62 (no ANSI overflow). */
  val P: Long = 2147483647L

  val NumPerms = 128
  val BandsMinhash = 32 // 32 bands × 4 rows

  /** (a, b) pairs for the 128 MinHash permutations, from a fixed LCG. */
  val perms: IndexedSeq[(Long, Long)] = {
    var x = 42L
    def next(): Long = { x = (1103515245L * x + 12345L) % 2147483648L; x }
    (0 until NumPerms).map { _ =>
      val a = next() % (P - 1) + 1
      val b = next() % P
      (a, b)
    }
  }

  /** DuckDB list literal of the permutation constants. */
  def permsADuck: String = perms.map(_._1).mkString("[", ",", "]")
  def permsBDuck: String = perms.map(_._2).mkString("[", ",", "]")

  /** 60-bit token id — Spark SQL fragment ( `s` = string expr ). */
  def sid60Spark(s: String): String =
    s"cast(conv(substr(md5($s), 1, 15), 16, 10) as bigint)"
  /** Same token id in DuckDB SQL. */
  def sid60Duck(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  /** Rolling-fingerprint modulus and 31^i (mod FpP) power table (64
    * entries), for the doc_fingerprint prefix hash. Products stay under
    * 2^63: 127 (max ascii) × FpP × 64 ≈ 2^43. */
  val FpP: Long = 1000000007L
  val pow31: IndexedSeq[Long] = {
    val b = IndexedSeq.newBuilder[Long]
    var p = 1L
    (0 until 64).foreach { _ => b += p; p = p * 31 % FpP }
    b.result()
  }
  def pow31Spark: String = pow31.mkString("array(", "L,", "L)")
  def pow31Duck: String = pow31.mkString("[", ",", "]")

  /** SimHash: 60-bit fingerprints over the sid60 word hashes, banded
    * into 4 × 15-bit bands; near-dup iff hamming distance ≤ 3. */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits = 15
  val SimhashMaxHamming = 3

  /** Random-hyperplane LSH for embeddings: 32 planes of ±1 signs from an
    * LCG on the (plane, dim) index — pure integer arithmetic, identical
    * in both engines. sign(i,j) = +1 iff ((1103515245·(i·64+j) + 12345)
    * div 65536) is even. Banded 4 × 8 bits: 8-bit buckets keep random
    * non-neighbors to ~1/256 collision per band (4-bit bands measured a
    * 25% all-pairs candidate rate on near-orthogonal data). */
  val NumPlanes = 32
  val EmbDim = 64
  val PlaneBands = 4 // 4 bands × 8 bits
  val PlaneBandBits = 8
  def planeSignSpark(i: String, j: String): String =
    s"if((((1103515245L * ($i * 64 + $j) + 12345L) div 65536) % 2) = 0, 1.0D, -1.0D)"
  def planeSignDuck(i: String, j: String): String =
    s"CASE WHEN (((1103515245 * ($i * 64 + $j) + 12345) // 65536) % 2) = 0 THEN 1.0 ELSE -1.0 END"
}
