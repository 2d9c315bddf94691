package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query's full output.
  *
  * Each row is rendered canonically (columns sorted by name; doubles by
  * their shortest round-trip form, so -0.0 and NaN stay distinct;
  * timestamps as epoch instants, independent of the JVM time zone; maps by
  * sorted key), hashed with SHA-256, and the first 128 bits of every row
  * hash are summed. The sum is a multiset digest: the partition order rows
  * arrive in does not matter, duplicate rows do. The result is
  * `<rows>:<schema hash><row-hash sum>`.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name)
    val schema = order.map(i => s"${fields(i).name}:${fields(i).dataType.sql}")
      .mkString(",")
    var (hi, lo, n) = (0L, 0L, 0L)
    df.collect().foreach { row =>
      val bb = ByteBuffer.wrap(sha(order.map(i => value(row.get(i))).mkString("|")))
      hi += bb.getLong; lo += bb.getLong; n += 1
    }
    val head = ByteBuffer.wrap(sha(schema)).getLong
    Result(n, f"$n:$head%016x$hi%016x$lo%016x")
  }

  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  private def value(v: Any): String = v match {
    case null                     => "null"
    case d: Double                => java.lang.Double.toString(d)
    case f: Float                 => java.lang.Float.toString(f)
    case t: java.sql.Timestamp    => t.toInstant.toString
    case d: java.sql.Date         => d.toLocalDate.toString
    case b: Array[Byte]           => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row                   => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted
        .mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case s: String                => "\"" + s + "\""
    case other                    => other.toString
  }
}
