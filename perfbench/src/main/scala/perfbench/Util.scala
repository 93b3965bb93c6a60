package perfbench

import java.io.File

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the result line and the detail file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** An operation's answer in a canonical, engine-independent form: rows of
  * plain values (Long, Double, String). Doubles compare with a relative
  * tolerance, because two engines may sum in a different order. */
final case class Answer(rows: Vector[Vector[Any]], ordered: Boolean) {
  def matches(other: Answer): Boolean = {
    if (rows.length != other.rows.length) return false
    val (a, b) =
      if (ordered && other.ordered) (rows, other.rows)
      else (Answer.sorted(rows), Answer.sorted(other.rows))
    a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => Answer.same(u, v) } }
  }

  def brief: String = rows.take(3).map(_.mkString("(", ",", ")")).mkString(" ") +
    (if (rows.length > 3) s" ... (${rows.length} rows)" else "")
}

object Answer {
  def of(rows: Array[Row], ordered: Boolean): Answer =
    Answer(rows.toVector.map(r => (0 until r.length).toVector.map(i => canon(r.get(i)))), ordered)

  def scalar(vs: Any*): Answer = Answer(Vector(vs.toVector.map(canon)), ordered = true)

  /** A deliberately wrong copy (the smoke test's injected fault). */
  def corrupt(a: Answer): Answer =
    Answer(a.rows :+ Vector[Any]("injected-wrong-row"), a.ordered)

  def canon(v: Any): Any = v match {
    case null => "null"
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case l: Long => l
    case f: Float => f.toDouble
    case d: Double => d
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def key(row: Vector[Any]): String = row.map {
    case d: Double => f"$d%.6e"
    case other => other.toString
  }.mkString("\u0001")

  private def sorted(rows: Vector[Vector[Any]]): Vector[Vector[Any]] = rows.sortBy(key)

  def same(u: Any, v: Any): Boolean = (u, v) match {
    case (a: Double, b: Double) => close(a, b)
    case (a: Double, b: Long) => close(a, b.toDouble)
    case (a: Long, b: Double) => close(a.toDouble, b)
    case _ => u == v
  }

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

final class Mismatch(msg: String) extends RuntimeException(msg)

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** (file count, total bytes) under a directory, hidden files included. */
  def usage(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (1L, dir.length)
    else Option(dir.listFiles).getOrElse(Array.empty[File])
      .foldLeft((0L, 0L)) { case ((n, b), f) =>
        val (n2, b2) = usage(f); (n + n2, b + b2) }

  /** Total bytes of the `.bson` data files under a directory. */
  def bsonBytes(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) (if (dir.getName.endsWith(".bson")) dir.length else 0L)
    else Option(dir.listFiles).getOrElse(Array.empty[File]).map(bsonBytes).sum
}
