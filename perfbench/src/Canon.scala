package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a fully collected result. Columns are
  * taken in name order and rows are sorted, so two executions of the
  * same op agree whenever their result multisets agree. Doubles keep
  * nine significant digits and floats six, which absorbs summation-order
  * noise from parallel aggregation. */
object Canon {

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else String.format(Locale.ROOT, "%.9g", Double.box(if (d == 0.0) 0.0 else d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else String.format(Locale.ROOT, "%.6g", Double.box(if (f == 0.0f) 0.0 else f.toDouble))
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case ts: java.sql.Timestamp => ts.toInstant.toString
    case i: java.time.Instant => i.toString
    case other => other.toString
  }

  def digest(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    sha256(order.map(schema.fieldNames(_)).mkString(",") + "\n" + lines.mkString("\n"))
  }

  def sha256(s: String): String = sha256(s.getBytes(StandardCharsets.UTF_8))

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString
}
