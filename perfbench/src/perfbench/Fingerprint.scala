package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** A query result reduced to (row count, schema, order-insensitive hash).
  *
  * Each row is rendered to a canonical string and hashed; the row hashes
  * are summed, so the fingerprint is independent of row order and of how
  * rows are spread over partitions. Canonical form: -0.0 is 0.0, every
  * NaN is one NaN, doubles are rounded to 12 significant digits (last-bit
  * differences in float reductions do not count as a different result),
  * strings are length-prefixed, and map entries are sorted.
  */
final case class Fingerprint(rows: Long, schema: String, hash: String) {
  def line(name: String): String = s"$name\t$rows\t$schema\t$hash"
}

object Fingerprint {
  def canonical(v: Any): String = v match {
    case null => "N"
    case d: Double => "d" + canonicalDouble(d)
    case f: Float => "d" + canonicalDouble(f.toString.toDouble)
    case b: java.math.BigDecimal => "d" + canonicalDouble(b.doubleValue)
    case b: BigDecimal => "d" + canonicalDouble(b.toDouble)
    case s: String => s"s${s.length}:$s"
    case b: Array[Byte] => "b" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case a: Array[_] => a.map(canonical).mkString("[", ",", "]")
    case n: java.lang.Number => "i" + n.toString
    case other => "o" + other.toString
  }

  def canonicalDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    // from the shortest decimal that reads back as d: the double's exact
    // binary expansion can run to hundreds of digits
    else java.math.BigDecimal.valueOf(d).round(Digits).stripTrailingZeros.toString

  private val Digits = new java.math.MathContext(12)

  /** 64-bit hash of one row's canonical form. */
  def rowHash(r: Row, sha: MessageDigest = MessageDigest.getInstance("SHA-256")): Long =
    java.nio.ByteBuffer.wrap(sha.digest(canonical(r).getBytes(StandardCharsets.UTF_8))).getLong

  def schemaString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** (row count, summed row hashes): commutative, so any row order and any
    * spread over partitions gives one result ([[CheckSink]] sums per
    * partition the same way). */
  def of(rows: Iterator[Row]): (Long, Long) = {
    val sha = MessageDigest.getInstance("SHA-256")
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + rowHash(r, sha)) }
  }

  /** Reference file: one `name \t rows \t schema \t hash` line per query. */
  def readReference(path: String): Map[String, Fingerprint] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(name, rows, schema, hash) = l.split("\t", 4)
        name -> Fingerprint(rows.toLong, schema, hash)
      }.toMap
      finally src.close()
    }
  }
}
