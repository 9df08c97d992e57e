package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive content digest of a query result: the sum (mod 2^64)
  * of a 64-bit hash of each row's canonical text. Floating-point values are
  * rounded to 9 significant digits, the relative tolerance the DuckDB
  * oracles compare at, so summation-order noise does not change a digest.
  */
object Digest {

  final case class Ref(rows: Long, digest: String)

  def of(rows: Array[Row]): Ref =
    Ref(rows.length.toLong, f"${rows.iterator.map(r => hash64(canon(r))).sum}%016x")

  private[perfbench] def canon(v: Any): String = v match {
    case null                         => "~"
    case d: Double                    => num(d)
    case f: Float                     => num(f.toDouble)
    case r: Row                       => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte]               => "0x" + hex(MessageDigest.getInstance("MD5").digest(b))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_]   => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal     => bd.stripTrailingZeros.toPlainString
    case x                            => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))

  private def hash64(s: String): Long =
    java.nio.ByteBuffer.wrap(
      MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))).getLong

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  /** References file: one `name<TAB>rows<TAB>digest` line per query. */
  def readRefs(path: String): Map[String, Ref] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path), UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, d) = l.split("\t")
        n -> Ref(rows.toLong, d)
      }.toMap
  }

  def refLine(name: String, r: Ref): String = s"$name\t${r.rows}\t${r.digest}"
}
