package graftbench

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the run record and for result rows. */
object Json {

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Render a record value: Map → object, Seq → array, numbers,
    * strings, booleans, Option/null → null. Non-finite doubles become
    * null so the record stays strict JSON. */
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case i: HostCpu.Interval =>
      apply(Map("wall_s" -> i.wallS, "net_s" -> i.netS, "steal" -> i.stealFrac))
    case other => str(other.toString)
  }

  /** One result cell, typed so the oracle side can render it the same
    * way: timestamps and dates as `{"$ts": iso}`, binary as
    * `{"$bin": hex}`, structs as `{"$struct": [...]}`, maps as
    * `{"$map": [[k, v], ...]}`; doubles keep every digit and NaN/Inf
    * use the tokens Python's json module reads. */
  def cell(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isPosInfinity) "Infinity"
      else if (d.isNegInfinity) "-Infinity" else d.toString
    case f: Float => cell(f.toDouble)
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] =>
      n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: Timestamp => tsCell(t.toLocalDateTime)
    case t: LocalDateTime => tsCell(t)
    case t: Instant => tsCell(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case d: Date => tsCell(d.toLocalDate.atStartOfDay())
    case d: LocalDate => tsCell(d.atStartOfDay())
    case b: Array[Byte] =>
      "{\"$bin\":\"" + b.map("%02x".format(_)).mkString + "\"}"
    case r: Row => "{\"$struct\":" +
      (0 until r.length).map(i => cell(r.get(i))).mkString("[", ",", "]") + "}"
    case m: collection.Map[_, _] => "{\"$map\":" + m.toSeq
      .map { case (k, x) => "[" + cell(k) + "," + cell(x) + "]" }
      .mkString("[", ",", "]") + "}"
    case s: Iterable[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => cell(a.toSeq)
    case other => str(other.toString)
  }

  private def tsCell(t: LocalDateTime): String =
    "{\"$ts\":\"" + t.toString + "\"}"

  def row(r: Row): String =
    (0 until r.length).map(i => cell(r.get(i))).mkString("[", ",", "]")
}
