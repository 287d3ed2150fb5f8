package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a collected result: columns sorted by name
  * (as the DuckDB oracle compare does), each row rendered to text, rows
  * sorted, then SHA-256 over the column names, types and rows. Equal
  * results give equal digests whatever the partitioning or row order. */
object Digest {
  def of(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val header = cols.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }.mkString(",")
    val lines = rows.map(r => cols.map { case (_, i) => render(r.get(i)) }.mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
