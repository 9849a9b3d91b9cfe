package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The complete inventory of [[Pins.shared]] cross-query stages, each with
  * a forcing action that materializes its cache.
  *
  * Why this exists (round 16): the bench's warm per-query minima used to
  * depend on SUITE ORDER — whichever family member ran first paid the
  * shared-stage build inside its timed window, and when that first sample
  * crossed the 10 s early-break the build-inflated number was committed
  * as the query's measurement (r14 p07 3.06 s, r15 p47 17.2 s: both
  * "warm regressions" whose cold pairs improved). The bench now calls
  * [[prebuild]] ONCE before the timed sweep, charging every stage to a
  * separate `stage_build` artifact field; consumers then measure warm by
  * construction, so warm numbers are order-independent. The symmetric
  * cold-equivalent pass (stage rebuild included per query) is unchanged.
  *
  * Keep this list in lockstep with the `Pins.shared` call sites —
  * SharedStagesSpec asserts the kinds match the codebase inventory. */
object SharedStages {

  /** (kind, force) for every pinnable stage; `force` materializes the
    * stage's persisted cache end-to-end. */
  private[graft] def all(s: SparkSession, dir: String)
      : Seq[(String, () => Long)] = Seq(
    ("doc-toks-lower", () => TermStats.toks(s, dir).count()),
    ("gram-singles-pos", () => TermStats.gramSinglesPos(s, dir).count()),
    ("doc-token-hashes", () => CorpusOps.tokenHashed(s, dir).count()),
    ("doc-shingle-pairs", () => CorpusOps.shinglePairs(s, dir).count()),
    ("lsh-signatures", () => DedupQueries.cachedSignatures(s, dir).count()),
    ("lsh-candidate-pairs", () => DedupQueries.candidatePairs(s, dir).count()),
    ("quantized-embeddings", () => Clustering.quantized(s, dir).count()))

  /** Materialize every stage, timing each; a failed build is reported on
    * stderr, records −1 and leaves the consumers to build it themselves. */
  private[graft] def prebuild(s: SparkSession, dir: String)
      : Seq[(String, Double)] =
    all(s, dir).map { case (kind, force) =>
      val t0 = System.nanoTime()
      val ok = try { force(); true } catch { case e: Throwable =>
        System.err.println(s"[stages] $kind build failed: ${failureLine(e)}")
        false
      }
      kind -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

  /** `Class: first message line` of a failure, for one-line reports. */
  private[graft] def failureLine(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
}
