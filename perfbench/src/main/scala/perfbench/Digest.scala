package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-sensitive digest of a query result, canonicalised the way the
  * oracle check compares results: columns sorted by name, rows in the
  * query's own order, numbers compared by value whatever their type.
  * `make_digests.py` renders DuckDB oracle rows with the same rules.
  *
  * Rules: null is `\N`; booleans `true`/`false`; an integral number below
  * 2^53 in magnitude, of any numeric type, is its decimal integer; any
  * other number is the IEEE-754 bits of its double value in hex (`nan`
  * for NaN); timestamps are epoch microseconds, dates epoch days; arrays
  * are `[a,b]`, structs `{a,b}`. Fields are separated by 0x1f, rows by
  * newlines.
  */
object Digest {
  private val Exact = 9007199254740992.0 // 2^53

  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq.sorted
    val rows = df.select(cols.map(c => df.col(s"`$c`")): _*).collect()
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update((0 until r.length).map(i => render(r.get(i))).mkString("\u001f").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == math.rint(d) && math.abs(d) < Exact) d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case l: Long =>
      if (math.abs(l.toDouble) < Exact) l.toString else num(l.toDouble)
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }
}
