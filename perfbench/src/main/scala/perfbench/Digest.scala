package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a query result: the row count and the
  * sum of per-row hashes. Floating-point values are rounded to 9
  * significant digits first, so a change of summation order in a
  * parallel aggregate (last-bit noise) does not read as a different
  * answer. Computed on the collected result, outside any timed span. */
final case class Digest(rows: Long, hash: Long)

object Digest {
  def of(df: DataFrame): Digest = {
    var rows = 0L
    var sum = 0L
    df.toLocalIterator().forEachRemaining { r =>
      rows += 1
      sum += MurmurHash3.stringHash(norm(r)).toLong
    }
    Digest(rows, sum)
  }

  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }
      .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b", ".", "")
    case x => x.toString
  }
}
