package graftbench

import java.math.MathContext
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Order-insensitive content digest of a query's collected output: the row
  * count plus the wrapping sum of a 64-bit hash of each row's canonical
  * text. Floating-point values are rounded to 9 significant digits first,
  * so partition-order summation noise does not change the digest. */
object Digest {

  private val mc = new MathContext(9)

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.round(mc).stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString

  /** 64-bit FNV-1a over the UTF-8 bytes of `s`. */
  private def fnv(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(StandardCharsets.UTF_8).foreach { b =>
      h = (h ^ (b & 0xff)) * 0x100000001b3L
    }
    h
  }

  /** (row count, hex digest) */
  def of(rows: Array[Row]): (Long, String) = {
    var sum = 0L
    rows.foreach(r => sum += fnv(canon(r)))
    (rows.length.toLong, f"$sum%016x")
  }
}
