package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** [[TimeseriesOps.endpointRow]] is the endpoint lookups' one-job
  * replacement for `dedupLatest` followed by `lastRow`/`firstRow`; it
  * must keep exactly the row that pipeline keeps. Seeded generated
  * frames draw event times and ingestion times from small domains so
  * that duplicate times, ties on (time, created_time) and null or NaN
  * values are common.
  */
class EndpointRowSpec extends SparkSpec {

  private val T0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def viaDedup(df: DataFrame, fromTail: Boolean): Seq[Row] = {
    val d = TimeseriesOps.dedupLatest(df)
    (if (fromTail) TimeseriesOps.lastRow(d) else TimeseriesOps.firstRow(d)).collect().toSeq
  }

  private def viaTop1(df: DataFrame, fromTail: Boolean): Seq[Row] =
    TimeseriesOps.endpointRow(df, fromTail).collect().toSeq

  private def assertSame(df: DataFrame, what: String): Unit =
    for (fromTail <- Seq(true, false)) {
      val want = viaDedup(df, fromTail)
      val got = viaTop1(df, fromTail)
      assert(got == want, s"$what fromTail=$fromTail: got $got, want $want")
    }

  /** `n` rows over four event hours and three creation minutes. */
  private def generated(seed: Long, n: Int, value: scala.util.Random => Any,
      valueType: DataType, extra: Boolean = false): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { _ =>
      val t = new Timestamp(T0 + rnd.nextInt(4) * 3600000L)
      val c = if (rnd.nextDouble() < 0.15) null
              else new Timestamp(T0 + rnd.nextInt(3) * 60000L)
      val base = Seq[Any](t, c, value(rnd))
      Row.fromSeq(if (extra) base :+ (if (rnd.nextBoolean()) null else Int.box(rnd.nextInt(2)))
                  else base)
    }
    val fields = Seq(
      StructField(TimeseriesOps.TimeCol, TimestampType),
      StructField(TimeseriesOps.CreatedCol, TimestampType),
      StructField(TimeseriesOps.ValueCol, valueType)) ++
      (if (extra) Seq(StructField("q", IntegerType)) else Nil)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(fields))
  }

  private val doubles: scala.util.Random => Any = r => r.nextInt(6) match {
    case 0 => null
    case 1 => Double.NaN
    case k => Double.box(k.toDouble)
  }

  test("duplicate time: the later created_time wins at both ends") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new Timestamp(T0), new Timestamp(T0 + 1000), 1.0),
      Row(new Timestamp(T0), new Timestamp(T0 + 2000), 2.0),
      Row(new Timestamp(T0 + 5000), new Timestamp(T0 + 1000), 3.0),
      Row(new Timestamp(T0 + 5000), new Timestamp(T0 + 9000), 4.0))),
      generated(0, 0, doubles, DoubleType).schema)
    assert(viaTop1(df, fromTail = true).map(_.getDouble(2)) == Seq(4.0))
    assert(viaTop1(df, fromTail = false).map(_.getDouble(2)) == Seq(2.0))
    assertSame(df, "duplicate time")
  }

  test("equal (time, created_time): value breaks the tie; null below, NaN above") {
    val schema = generated(0, 0, doubles, DoubleType).schema
    def tied(vs: Any*) = spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map(v => Row(new Timestamp(T0), new Timestamp(T0), v))), schema)
    assert(viaTop1(tied(5.0, 9.0, 7.0), fromTail = true).head.getDouble(2) == 9.0)
    assert(viaTop1(tied(null, -1.0), fromTail = true).head.getDouble(2) == -1.0)
    assert(viaTop1(tied(1.0, Double.NaN, null), fromTail = true).head.getDouble(2).isNaN)
    for (vs <- Seq(Seq(5.0, 9.0, 7.0), Seq(null, -1.0), Seq(1.0, Double.NaN, null), Seq(null, null)))
      assertSame(tied(vs: _*), s"tie $vs")
  }

  test("null created_time loses to any known ingestion time") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(new Timestamp(T0), null, 8.0),
      Row(new Timestamp(T0), new Timestamp(T0 - 1000), 1.0))),
      generated(0, 0, doubles, DoubleType).schema)
    assert(viaTop1(df, fromTail = true).head.getDouble(2) == 1.0)
    assertSame(df, "null created")
  }

  test("generated frames with nulls, NaN and ties agree at both ends") {
    for (seed <- 1L to 24L)
      assertSame(generated(seed, 4 + (seed % 9).toInt * 3, doubles, DoubleType), s"seed $seed")
  }

  test("serialized (JSON string) values agree before the unwrap") {
    val json: scala.util.Random => Any = r =>
      if (r.nextInt(5) == 0) null else s"""{"v":${r.nextInt(4)}}"""
    for (seed <- 31L to 40L) assertSame(generated(seed, 12, json, StringType), s"seed $seed")
  }

  test("timeTravel applied before the top-1 agrees") {
    for (seed <- 41L to 52L; delta <- Seq("0s", "-1h", "2h")) {
      val df = TimeseriesOps.timeTravel(generated(seed, 15, doubles, DoubleType), delta)
      assertSame(df, s"seed $seed travel $delta")
    }
  }

  test("extra columns of an evolved schema take part in the tie break") {
    for (seed <- 61L to 70L)
      assertSame(generated(seed, 14, doubles, DoubleType, extra = true), s"seed $seed")
  }

  test("one job, no exchange, also under the serialized unwrap") {
    val json: scala.util.Random => Any = r => s"""{"v":${r.nextInt(4)}}"""
    val top = TimeseriesOps.endpointRow(generated(3, 20, json, StringType), fromTail = true)
    val unwrapped = top.withColumn("value", get_json_object(col("value"), "$.v"))
      .select("time", "value")
    for (df <- Seq(top, unwrapped)) {
      val (_, jobs) = withJobCount(df.collect())
      assert(jobs == 1)
      // collected straight from the top-k operator: no shuffle to one partition
      assert(df.queryExecution.executedPlan.isInstanceOf[TakeOrderedAndProjectExec],
        df.queryExecution.executedPlan.treeString)
    }
  }
}
