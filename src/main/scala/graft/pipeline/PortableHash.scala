package graft.pipeline

import scala.util.Random

/** One source of truth for every hash constant the pipeline operators use,
  * plus generators for the *same* computation in both dialects:
  *
  *  - Spark side: SQL-text fragments over the session-registered
  *    `graft_polyhash` (the codegen'd [[graft.functions.PolyHash]] kernel).
  *  - DuckDB side: pure `list_transform`/`list_reduce`/`%` SQL.
  *
  * Every hash is arithmetic over Unicode code points mod P = 2^31−1, so both
  * engines produce bit-identical BIGINTs — that is what upgrades the dedup /
  * fingerprint / multimodal / ANN queries from rows-only checks to full
  * DuckDB oracles (round-1 verdict item 3). All "randomness" (minhash
  * permutations, LSH hyperplanes) is fixed-seed and compile-time, shared by
  * the Spark plan and the generated oracle SQL.
  */
object PortableHash {

  /** Mersenne prime 2^31−1: hash domain. acc·mult + cp < 2^62 → ANSI-safe. */
  val P = 2147483647L
  /** Code-point fold multipliers (two independent hashes where needed). */
  val TokMult = 31L
  val TokMult2 = 37L
  /** Combiner for folding hash sequences (band signatures, digests). */
  val FoldMult = 1000003L

  val MinhashPerms = 32
  val Bands = 8
  val RowsPerBand: Int = MinhashPerms / Bands

  /** Fixed-seed affine permutations (a, b); a·h + b < 2^62 (no overflow). */
  val perms: Seq[(Long, Long)] = {
    val rnd = new Random(42)
    Seq.fill(MinhashPerms)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  // ------------------------------------------------------------ Spark side
  // (SQL-text fragments the caller wraps in expr(...); graft_polyhash
  // resolves in every session built with graft.GraftExtensions.)

  /** Poly-hash of a string-typed SQL expression. */
  def sparkCharHash(e: String, mult: Long = TokMult): String =
    s"graft_polyhash($e, ${mult}L, ${P}L)"

  /** Array of per-token poly-hashes: split on whitespace, hash each token. */
  def sparkTokenHashes(e: String, mult: Long = TokMult): String =
    s"transform(split(trim($e), '\\\\s+'), t -> ${sparkCharHash("t", mult)})"

  /** 3-token shingle hashes from a token-hash array column `th`:
    * ((h1·31 + h2)·31 + h3) mod P — values < 2^41 pre-mod, ANSI-safe. */
  def sparkShingles(th: String): String =
    s"""transform(sequence(0, greatest(size($th) - 3, 0)),
       | i -> pmod((element_at($th, i + 1) * 31L + element_at($th, i + 2)) * 31L
       |           + element_at($th, i + 3), ${P}L))""".stripMargin

  /** Fold a BIGINT-array expression to one digest: acc = (acc·FoldMult + h) mod P. */
  def sparkFoldDigest(arr: String): String =
    s"aggregate($arr, 0L, (acc, h) -> pmod(acc * ${FoldMult}L + h, ${P}L))"

  /** Band signature over a 32-slot minhash signature array column `sig`
    * (1-based element_at, same formula as [[duckBandSig]]). */
  def sparkBandSig(sig: String, band: Int): String =
    (0 until RowsPerBand).foldLeft("0L") { (acc, r) =>
      s"pmod(($acc) * ${FoldMult}L + element_at($sig, ${band * RowsPerBand + r + 1}), ${P}L)"
    }

  // ----------------------------------------------------------- DuckDB side

  /** Poly-hash of a string expression, DuckDB dialect. */
  def duckCharHash(e: String, mult: Long = TokMult): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"regexp_split_to_array($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, c) -> (a * $mult + c) % $P)"

  def duckTokenHashes(e: String, mult: Long = TokMult): String =
    s"list_transform(regexp_split_to_array(trim($e), '\\s+'), t -> ${duckCharHash("t", mult)})"

  def duckShingles(th: String): String =
    s"list_transform(range(0, greatest(len($th) - 3, 0) + 1), " +
      s"i -> (($th[i + 1] * 31 + $th[i + 2]) * 31 + $th[i + 3]) % $P)"

  def duckFoldDigest(arr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $arr), " +
      s"(acc, h) -> (acc * $FoldMult + h) % $P)"

  /** The 32 minhash components over a shingle-array expression `sh`:
    * min over shingles of (a·h + b) mod P — mirrors MinHashSignature. */
  def duckSigList(sh: String): String =
    perms.map { case (a, b) =>
      s"list_min(list_transform($sh, x -> ($a * x + $b) % $P))"
    }.mkString("[", ", ", "]")

  def duckBandSig(sig: String, band: Int): String =
    (0 until RowsPerBand).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
      s"(($acc) * $FoldMult + $sig[${band * RowsPerBand + r + 1}]) % $P"
    }

  /** Shared CTE prefix `th → sh → sig → bands` over a document-shaped
    * relation (doc_id, text, ...): everything MinHash-LSH needs. */
  def duckLshCtes(fromRel: String): String =
    s"""th AS (SELECT doc_id, ${duckTokenHashes("text")} AS th FROM $fromRel),
       |sh AS (SELECT doc_id, ${duckShingles("th")} AS sh FROM th),
       |sig AS (SELECT doc_id, ${duckSigList("sh")} AS sig FROM sh),
       |bands AS (${(0 until Bands).map(bnd =>
            s"SELECT doc_id, $bnd AS band, ${duckBandSig("sig", bnd)} AS band_sig FROM sig")
            .mkString("\n UNION ALL ")})""".stripMargin

  // ------------------------------------------------- LSH hyperplanes (ANN)

  /** Deterministic random hyperplanes: nPlanes × dim, values in [-1, 1). */
  def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  /** DuckDB sign-bit LSH bucket over a DOUBLE[] column expression `e` —
    * mirrors Similarity.withLshBucket bit for bit (double dot products of
    * the same fixed-seed plane constants). */
  def duckLshBucket(e: String, ps: Seq[Array[Double]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      val lit = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($e, CAST($lit AS DOUBLE[])) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB cosine with exactly VecCosine's formula:
    * dot / (sqrt(dot(a,a)) · sqrt(dot(b,b))). */
  def duckCosine(a: String, b: String): String =
    s"(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"
}
