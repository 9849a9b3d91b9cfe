package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Checks each statement's Arrow result against its reference: the digest,
  * then the tolerant row comparison when the digests differ. A result whose
  * bytes are identical to a result of the same statement that was already
  * checked and found right is right too; only the SHA-256 of its bytes is
  * taken. */
final class Checker(answerDirs: Seq[String]) {
  private val expected = mutable.Map[String, (Digest, Path)]()
  /** SHA-256 of results found right, per statement, with their shape. */
  private val verified = mutable.Map[(String, String), (Long, Int)]()
  private var nanos = 0L

  /** Time spent checking so far, in seconds. */
  def seconds: Double = nanos / 1e9

  private def answer(id: String): Option[(Digest, Path)] =
    answerDirs.map(d => Paths.get(d, s"$id.arrow")).find(Files.exists(_))
      .map(file => expected.getOrElseUpdate(id, load(file)))

  private def load(file: Path): (Digest, Path) = {
    // the digest of an answer file is cached beside it
    val cache = Paths.get(file.toString + ".digest")
    val d =
      if (Files.exists(cache) &&
          Files.getLastModifiedTime(cache).compareTo(Files.getLastModifiedTime(file)) >= 0)
        Digest.decode(new String(Files.readAllBytes(cache), "UTF-8"))
      else {
        val d = Digest.of(Digest.IpcFile(Files.readAllBytes(file)))
        Files.write(cache, d.encode.getBytes("UTF-8"))
        d
      }
    (d, file)
  }

  private def shape(a: Digest.Arrow): (Long, Int) = {
    var rows = 0L
    var batches = 0
    Digest.foreachBatch(a) { r => rows += r.getRowCount; batches += 1 }
    (rows, batches)
  }

  private def sha256(a: Digest.Arrow): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    a match {
      case Digest.IpcFile(b) => md.update(b)
      case Digest.IpcStreams(cs) => cs.foreach(md.update)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** (what is wrong if anything, result rows, result batches). */
  def check(st: Stmt, res: Option[Digest.Arrow]): (Option[String], Long, Int) = {
    val t = System.nanoTime()
    try {
      val key = res.map(a => st.id -> sha256(a))
      key.flatMap(verified.get) match {
        case Some((rows, batches)) => (None, rows, batches)
        case None =>
          val out = fullCheck(st, res)
          if (out._1.isEmpty) key.foreach(k => verified(k) = (out._2, out._3))
          out
      }
    } finally nanos += System.nanoTime() - t
  }

  private def fullCheck(st: Stmt, res: Option[Digest.Arrow]): (Option[String], Long, Int) = res match {
    case None =>
      (if (st.check == Check.Loaded) None else Some("no result"), 0L, 0)
    case Some(a) =>
      val (rows, batches) = shape(a)
      val wrong = st.check match {
        case Check.Answer(id) => answer(id) match {
          case None => Some("no reference answer")
          case Some((d, file)) =>
            Digest.compare(a, Digest.of(a), Digest.IpcFile(Files.readAllBytes(file)), d)
        }
        case Check.Loaded => None
      }
      (wrong, rows, batches)
  }
}
