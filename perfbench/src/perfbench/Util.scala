package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, if any. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) >= 1000).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1))
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; secondsSince(t0) }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally all.close()
  }

  /** Every regular file under `p` with its (size, modification time). */
  def fileSizes(p: Path): Map[Path, (Long, Long)] = {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    finally all.close()
  }

  /** Renders maps, sequences, strings, numbers, booleans and options as JSON. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
