package graftbench

import java.nio.file.{Files, Path}

/** Order statistics over the samples of one run. A failed operation is
  * never dropped: callers add it as a sample equal to [[Stats.penaltyMs]]
  * so it counts as a miss in every latency percentile.
  */
object Stats {
  /** Latency charged to a failed operation: the whole measurement window. */
  @volatile var penaltyMs: Double = 0.0

  /** Nearest-rank percentile, p in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** Minimal JSON writer for the run report (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }

  def write(p: Path, v: Any): Unit = Files.writeString(p, apply(v) + "\n")
}

object Fs {
  /** Bytes of every regular file under `p` (0 when absent). */
  def bytes(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && keep(f))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def count(p: Path, keep: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && keep(f)).count()
      finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
