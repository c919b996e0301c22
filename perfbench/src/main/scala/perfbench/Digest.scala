package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, identical to the one
  * `oracle_digests.py` computes over DuckDB's rows for the same query.
  *
  * The comparison rules are those of the repository's DuckDB self-check:
  * columns sorted by name, rows compared as a multiset, floats compared by
  * their IEEE bit pattern (so -0.0 and 0.0 differ), every NaN equal. Each
  * value is rendered to a tagged string, a row is the rendered values of its
  * name-sorted columns, and the digest hashes the sorted per-row hashes
  * together with the sorted column names. */
object Digest {

  def render(v: Any): String = v match {
    case null => "\u0000NULL"
    case b: Boolean => if (b) "b:True" else "b:False"
    case d: Double => floatBits(d)
    case f: Float => floatBits(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => "v:" + n.toString
    case n: java.math.BigInteger => "v:" + n.toString
    case d: java.math.BigDecimal => "d:" + d.toPlainString
    case d: scala.math.BigDecimal => "d:" + d.bigDecimal.toPlainString
    case s: String => "v:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D:" + d.toLocalDate.toString
    case d: java.time.LocalDate => "D:" + d.toString
    case a: Array[Byte] => "x:" + a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("<", ",", ">")
    case other => "v:" + other.toString
  }

  private def floatBits(d: Double): String =
    if (d.isNaN) "f:nan"
    else f"f:${java.lang.Double.doubleToRawLongBits(d)}%016x"

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Digest of a collected result with the given column names. */
  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rowHashes = rows.map(r => sha(order.map(i => render(r.get(i))).mkString("\u001f")))
      .sorted
    sha(columns.sorted.mkString("\u001f") + "\n" + rowHashes.mkString("\n"))
  }
}
