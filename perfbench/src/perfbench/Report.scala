package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Summary statistics and result fingerprints. */
object Report {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Order-insensitive fingerprint of a result: row count plus the sum of
    * per-row hashes, computed on the driver from the collected rows (the
    * benchmark's results are small). Floating-point values are rounded to
    * 6 decimals first, so a summation order that moves the last bits does
    * not count as a different result. */
  def fingerprint(df: DataFrame): String = {
    val names = df.schema.fieldNames.toSeq
    val order = names.indices.sortBy(names)
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case other => other.toString
    }
    val rows = df.collect()
    val sum = rows.foldLeft(BigInt(0)) { (acc, r) =>
      val text = order.map(i => s"${names(i)}=${canon(r.get(i))}").mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc + BigInt(1, md.take(8))
    }
    s"${rows.length}:$sum"
  }
}
