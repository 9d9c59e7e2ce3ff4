package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-insensitive 64-bit digests of query outputs: each row is
  * rendered canonically (doubles by their exact decimal form, -0.0 as
  * 0.0, timestamps as epoch microseconds, arrays and structs
  * recursively), hashed to 64 bits, and the row hashes are combined by
  * sum and xor, so the digest depends on the row multiset only. */
object Digest {

  def canonical(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN) "NaN" else java.lang.Double.toString(if (d == 0.0) 0.0 else d)
    case f: Float =>
      if (f.isNaN) "NaN" else java.lang.Float.toString(if (f == 0.0f) 0.0f else f)
    case t: java.sql.Timestamp =>
      s"t${t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000}"
    case i: java.time.Instant => s"t${i.getEpochSecond * 1000000L + i.getNano / 1000}"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canonical(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  /** 64-bit FNV-1a over the UTF-8 bytes, finished with a murmur mix. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(UTF_8)
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L
      i += 1
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Digest of a row multiset together with its column names. */
  def ofRows(columns: Seq[String], rows: Iterable[Row]): String = {
    var sum = 0L
    var xor = 0L
    var n = 0L
    rows.foreach { r =>
      val h = hash64(canonical(r))
      sum += h; xor ^= h; n += 1
    }
    f"n$n-c${hash64(columns.mkString(",")) & 0xffffffL}%06x-$sum%016x-$xor%016x"
  }

  /** Digest of a sequence, where order matters. */
  def ofSequence(items: Iterable[String]): String = {
    var h = 0x9e3779b97f4a7c15L
    var n = 0
    items.foreach { s => h = hash64(java.lang.Long.toHexString(h) + s); n += 1 }
    f"n$n-$h%016x"
  }
}
