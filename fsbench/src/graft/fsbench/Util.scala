package graft.fsbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** Order-free fingerprint of a frame: (bit_xor of a per-row xxhash64
  * over every output column, row count). Acting on it materialises the
  * whole frame. Null values hash as a sentinel no generated value can
  * take, because xxhash64 skips nulls and would otherwise not tell
  * which column of a row is null. */
object Fingerprint {
  private val NullValue = -1.0e300
  private val Seed = 42L // xxhash64's SQL seed

  def of(df: DataFrame, timeCols: Seq[String], valueCols: Seq[String]): (Long, Long) = {
    val cols: Seq[Column] = timeCols.map(c => col(s"`$c`")) ++
      valueCols.map(c => coalesce(col(s"`$c`"), lit(NullValue)))
    val r = df.agg(bit_xor(xxhash64(cols: _*)), count(lit(1))).head()
    // an empty frame folds to NULL under bit_xor
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** The same fingerprint of driver-side rows: `times` are epoch micros
    * (timestamp or long columns), `values` may be missing. */
  def ofRows(rows: Iterator[(Seq[Long], Seq[Option[Double]])], timesAreTimestamps: Seq[Boolean])
      : (Long, Long) = {
    var x = 0L
    var n = 0L
    rows.foreach { case (times, values) =>
      var h = Seed
      times.zip(timesAreTimestamps).foreach { case (t, isTs) =>
        h = XxHash64Function.hash(t, if (isTs) TimestampType else LongType, h)
      }
      values.foreach(v => h = XxHash64Function.hash(v.getOrElse(NullValue), DoubleType, h))
      x ^= h
      n += 1
    }
    (x, n)
  }
}

/** Order statistics over samples, linear between closest ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Just enough JSON for the result line and the trace file. */
object Json {
  def render(v: Any): String = v match {
    case null | None    => "null"
    case Some(x)        => render(x)
    case s: String      => quote(s)
    case b: Boolean     => b.toString
    case d: Double      => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float       => render(f.toDouble)
    case n: Number      => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.iterator.map(render).mkString("[", ", ", "]")
    case other          => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}

/** Host load stamps: `nproc` and /proc/loadavg's 1-minute figure. */
object Load {
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def now: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }
}
