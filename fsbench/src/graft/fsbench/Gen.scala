package graft.fsbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One stored version of one observation: event time and ingestion
  * time in epoch micros, and the value. */
final case class Obs(time: Long, created: Long, value: Double)

/** The seeded input generator. Every row carries an explicit
  * `created_time`, so stored bytes and time-travel reads are the same
  * on every run of a seed. Each (feature, day) draws from its own
  * stream, so a day's rows do not depend on the order days are made.
  */
final class Gen(seed: Long, rowsPerDay: Int, correctionShare: Double) {
  import Gen._

  private def stream(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed)((h, p) => new SplittableRandom(h * 31 + p).nextLong()))

  /** Day `d` of feature `f`: `rowsPerDay` rows, one per equal slot of
    * the day at a jittered second inside the slot's first half, created
    * one to eleven minutes after the event. */
  def day(f: Int, d: Int): Seq[Obs] = {
    val r = stream(1, f, d)
    val slot = DayUs / rowsPerDay
    (0 until rowsPerDay).map { i =>
      val t = T0 + d * DayUs + i * slot + r.nextLong(slot / 2 / SecUs) * SecUs
      Obs(t, t + (60 + r.nextLong(600)) * SecUs, value(r))
    }
  }

  /** Late corrections to day `d` of feature `f`: a `correctionShare` of
    * its rows again, each with a new value created a day or more after
    * the event, so last-writer-wins picks the correction and a
    * `timeTravel` of under a day does not see it. */
  def corrections(f: Int, d: Int): Seq[Obs] = {
    val r = stream(2, f, d)
    day(f, d).filter(_ => r.nextDouble() < correctionShare).map { o =>
      Obs(o.time, o.time + DayUs + r.nextLong(3600) * SecUs, value(r))
    }
  }

  /** A uniform draw from a seed-and-salt stream, for workload choices. */
  def choices(salt: Long): SplittableRandom = stream(3, salt)
}

object Gen {
  val SecUs = 1000000L
  val HourUs = 3600L * SecUs
  val DayUs = 24L * HourUs
  /** 2024-01-01T00:00:00Z, day 0 of every series. */
  val T0 = 1704067200L * SecUs

  /** Two-decimal values in (-100, 100), never 0 so no -0.0 reaches a hash. */
  private def value(r: SplittableRandom): Double = {
    val v = math.round(r.nextDouble(-100.0, 100.0) * 100) / 100.0
    if (v == 0.0) 0.01 else v
  }

  def ts(us: Long): Timestamp = new Timestamp(us / 1000L)

  val schema: StructType = StructType(Seq(
    StructField("time", TimestampType), StructField("created_time", TimestampType),
    StructField("value", DoubleType)))

  /** The rows as a local frame in the store's save envelope. */
  def frame(spark: SparkSession, obs: Seq[Obs]): DataFrame = {
    val rows = new java.util.ArrayList[Row](obs.size)
    obs.foreach(o => rows.add(Row(ts(o.time), ts(o.created), o.value)))
    spark.createDataFrame(rows, schema)
  }
}

/** What the store must answer, derived from the generated versions
  * alone: last-writer-wins by `created_time`, optional time travel
  * (keep versions created at most `travelUs` after their event time),
  * forward fill. Nothing here calls the library under test. */
object Expect {
  /** Surviving (time, value) pairs, ascending by time. */
  def series(versions: Iterable[Obs], travelUs: Option[Long] = None): Array[(Long, Double)] =
    versions.iterator
      .filter(o => travelUs.forall(d => o.created <= o.time + d))
      .toSeq.groupBy(_.time).iterator
      .map { case (t, vs) => (t, vs.maxBy(o => (o.created, o.value)).value) }
      .toArray.sortBy(_._1)

  /** Value in effect at `t`: the last surviving observation at or before it. */
  def asOf(s: Array[(Long, Double)], t: Long): Option[Double] = {
    var lo = 0
    var hi = s.length // first index with time > t
    while (lo < hi) { val m = (lo + hi) >>> 1; if (s(m)._1 <= t) lo = m + 1 else hi = m }
    if (lo == 0) None else Some(s(lo - 1)._2)
  }
}
