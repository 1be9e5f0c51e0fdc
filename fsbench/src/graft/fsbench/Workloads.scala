package graft.fsbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.FeatureStore

/** Sizes of one workload's store and operations. */
final case class Shape(
    features: Int,
    days: Int,
    rowsPerDay: Int,
    correctionShare: Double,
    correctionDays: Int)

/** One benchmark workload: a namespace built through `saveDataFrame`,
  * then a closed loop of one client, each `iterate` one request after
  * the previous one returned. Every operation goes through `rec.op`,
  * which times it, counts it and applies its check. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  def backend: String
  def shape: Shape
  /** The operation kinds whose latencies make the workload's `op_ms_p50`. */
  def mainOps: Seq[String]
  /** Untimed loop iterations before timing starts: enough for the JIT
    * to settle on the loop's hot paths. */
  def warmIterations: Int
  /** Whether the loop only reads, so passes can share one store. */
  def readOnly: Boolean = true
  /** The time range the direct layer probes read, epoch micros. */
  def probeWindow: (Long, Long) =
    (Gen.T0 + (shape.days - 7) * Gen.DayUs, Gen.T0 + shape.days * Gen.DayUs - 1)
  /** The store read the workload's verb performs, on feature `name`. */
  def probeRead(st: graft.store.TimeseriesStore, name: String): DataFrame =
    st.readPartitions(name, st.listPartitions(name, reverse = true).take(3), DoubleType)

  /** Take over another instance's model of the same, already built store. */
  def adopt(o: Workload): Unit = {
    url = o.url
    versions.clear()
    o.versions.foreach { case (f, vs) => versions(f) = vs.clone() }
  }

  lazy val gen = new Gen(seed, shape.rowsPerDay, shape.correctionShare)
  def ns: String = name
  lazy val features: IndexedSeq[String] = (0 until shape.features).map(i => s"$ns/f$i")

  /** Every version written so far, per feature index. */
  val versions: mutable.Map[Int, mutable.ArrayBuffer[Obs]] = mutable.Map.empty

  protected def write(fs: FeatureStore, f: Int, obs: Seq[Obs]): Unit = {
    fs.saveDataFrame(Gen.frame(spark, obs), name = Some(features(f)))
    versions.getOrElseUpdate(f, mutable.ArrayBuffer.empty) ++= obs
  }

  /** Create the namespace and its history: per feature one save of
    * every day plus late corrections to the last `correctionDays` days. */
  def build(fs: FeatureStore, url: String): Unit = {
    this.url = url
    versions.clear()
    fs.createNamespace(ns, url, backend = backend)
    fs.createFeatures(features)
    features.indices.foreach { f =>
      write(fs, f, (0 until shape.days).flatMap(d => gen.day(f, d)) ++
        (shape.days - shape.correctionDays until shape.days).flatMap(d => gen.corrections(f, d)))
    }
  }

  def series(f: Int, travelUs: Option[Long] = None): Array[(Long, Double)] =
    Expect.series(versions(f), travelUs)

  /** One request of the closed loop. */
  def iterate(fs: FeatureStore, rec: Recorder): Unit = { iterationsDone += 1; step(fs, rec) }
  protected def step(fs: FeatureStore, rec: Recorder): Unit
  var iterationsDone = 0

  /** Units of useful work done so far (the workload's `work_per_s`
    * numerator). */
  def work: Long

  /** Checks on the store's final state, after the timed loop. */
  def endChecks(fs: FeatureStore, rec: Recorder): Unit = ()

  /** Live rows the namespace holds (the `disk_bytes_per_row` base). */
  def liveRows: Long = versions.keys.iterator.map(f => series(f).length.toLong).sum

  /** The namespace's location, set by `build`. */
  var url = ""

  /** Data and log bytes of the namespace per live row. */
  def diskBytesPerRow(fs: FeatureStore, rec: Recorder): Double =
    Disk.bytes(spark, url).toDouble / liveRows

  /** `k` of `xs` in a random order drawn from `r`. */
  protected def sample[T](r: java.util.SplittableRandom, xs: Seq[T], k: Int): Seq[T] =
    new scala.util.Random(new java.util.Random(r.nextLong())).shuffle(xs).take(k)

  protected def expectSeq[T](what: String, got: Seq[T], want: Seq[T]): Boolean = {
    if (got != want) Console.err.println(s"[fsbench] $name: $what: got $got, want $want")
    got == want
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "serve_last"    => new ServeLast(spark, seed)
    case "train_load"    => new TrainLoad(spark, seed)
    case "ingest_upsert" => new IngestUpsert(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("serve_last", "train_load", "ingest_upsert")
}

/** Online inference: `last()` on one to four random features of a plain
  * namespace with a deep daily history (more partitions than Spark lists
  * on the driver, so each read also runs a parallel listing job). Every
  * lookup is fixed cost: catalog reads, partition and file listing,
  * schema inference and job launches; no resample, align or shuffle. */
final class ServeLast(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  def name = "serve_last"
  def backend = "spark"
  val shape = Shape(features = 4, days = 36, rowsPerDay = 24, correctionShare = 0.1, correctionDays = 7)
  def mainOps = Seq("last")
  def warmIterations = 4

  private lazy val pick = gen.choices(1)
  private lazy val expected: Map[String, Option[Any]] =
    features.indices.map(f => features(f) -> Some(series(f).last._2)).toMap
  private var served = 0L

  protected def step(fs: FeatureStore, rec: Recorder): Unit = {
    // k cycles through 1..4 so every run serves the same mix of call
    // widths; which features a call asks for is random
    val k = 1 + (iterationsDone - 1) % 4
    val chosen = sample(pick, features, k)
    rec.op("last", perUnit = k)(fs.last(chosen)) { got =>
      served += k
      rec.returned(k)
      expectSeq("last", chosen.map(got), chosen.map(expected))
    }
  }

  def work: Long = served
}

/** Offline training-set construction on a plain namespace. Each
  * iteration runs a windowed hourly `loadDataFrame` of K features (dedup,
  * seed ladder, resample, forward fill, align), then `trainingFrame` of
  * labels against K features (align and as-of join, no ladder), each
  * materialised by fingerprinting every output column. */
final class TrainLoad(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  def name = "train_load"
  def backend = "spark"
  val shape = Shape(features = 3, days = 24, rowsPerDay = 24, correctionShare = 0.1, correctionDays = 7)
  def mainOps = Seq("load")
  def warmIterations = 1
  val perLoad = 3
  val windowDays = 7
  val labelRows = 200

  private lazy val pick = gen.choices(2)
  private var cells = 0L

  private def choose(): Seq[Int] = sample(pick, features.indices, perLoad)

  protected def step(fs: FeatureStore, rec: Recorder): Unit = {
    load(fs, rec)
    training(fs, rec)
  }

  private def load(fs: FeatureStore, rec: Recorder): Unit = {
    val fi = choose()
    val names = fi.map(features)
    // the window ends inside the history and starts after its first
    // week, so every grid point has a seed row before it
    val fromUs = Gen.T0 + (7 + pick.nextInt(shape.days - windowDays - 8)) * Gen.DayUs +
      pick.nextInt(24) * Gen.HourUs
    val toUs = fromUs + windowDays * Gen.DayUs
    val grid = (fromUs to toUs by Gen.HourUs)
    val want = {
      val ss = fi.map(series(_))
      Fingerprint.ofRows(grid.iterator.map(t => (Seq(t), ss.map(Expect.asOf(_, t)))), Seq(true))
    }
    rec.op("load") {
      val df = fs.loadDataFrame(names, Some(Gen.ts(fromUs)), Some(Gen.ts(toUs)), Some("1h"))
      rec.planned(df)
      Fingerprint.of(df, Seq("time"), names)
    } { got =>
      cells += got._2 * names.size
      rec.returned(got._2)
      expectSeq("load fingerprint", Seq(got), Seq(want))
    }
  }

  private def training(fs: FeatureStore, rec: Recorder): Unit = {
    val fi = choose()
    val names = fi.map(features)
    val span = shape.days * Gen.DayUs / Gen.SecUs
    val times = Iterator.continually(Gen.T0 + pick.nextLong(span) * Gen.SecUs)
      .distinct.take(labelRows).toIndexedSeq
    val labelSchema = StructType(Seq(
      StructField("time", TimestampType), StructField("label_id", LongType)))
    val rows = new java.util.ArrayList[Row](labelRows)
    times.zipWithIndex.foreach { case (t, i) => rows.add(Row(Gen.ts(t), i.toLong)) }
    val labels = spark.createDataFrame(rows, labelSchema)
    val want = {
      val ss = fi.map(series(_))
      Fingerprint.ofRows(times.iterator.zipWithIndex.map { case (t, i) =>
        (Seq(t, i.toLong), ss.map(Expect.asOf(_, t)))
      }, Seq(true, false))
    }
    rec.op("asof") {
      val df = fs.trainingFrame(labels, names)
      rec.planned(df)
      Fingerprint.of(df, Seq("time", "label_id"), names)
    } { got =>
      cells += got._2 * names.size
      rec.returned(got._2)
      expectSeq("trainingFrame fingerprint", Seq(got), Seq(want))
    }
  }

  override def probeRead(st: graft.store.TimeseriesStore, name: String): DataFrame = {
    val (from, to) = probeWindow
    st.read(name, Some(Gen.ts(from)), Some(Gen.ts(to)))
  }

  def work: Long = cells
}

/** Writes beside reads on a txlog namespace. Each cycle appends one day
  * per feature, writes late corrections to the day before, reads back at
  * once (`last()` and a two-day `loadDataFrame` with `timeTravel`), then
  * compacts the two partitions it touched. Compacting every cycle makes
  * every cycle the same work, so rows per second does not depend on
  * where in a compaction period the timed phase stops. */
final class IngestUpsert(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  def name = "ingest_upsert"
  def backend = "txlog"
  val shape = Shape(features = 2, days = 20, rowsPerDay = 24, correctionShare = 0.2, correctionDays = 7)
  /** Both are one single-feature `saveDataFrame` commit to the log with
    * the same jobs; pooling them doubles the samples a run holds. */
  def mainOps = Seq("append", "correct")
  def warmIterations = 5
  override def readOnly = false
  override def probeWindow: (Long, Long) =
    (Gen.T0 + (day - 2) * Gen.DayUs, Gen.T0 + day * Gen.DayUs - 1)
  val travel = "1h"

  private var day = 0
  private var rows = 0L

  override def build(fs: FeatureStore, url: String): Unit = {
    super.build(fs, url)
    day = shape.days
    rows = 0L
    bytesPerRow = None
  }

  private def partition(d: Int): String =
    java.time.LocalDate.ofEpochDay(Gen.T0 / Gen.DayUs + d).toString

  protected def step(fs: FeatureStore, rec: Recorder): Unit = {
    val d = day
    features.indices.foreach { f =>
      val obs = gen.day(f, d)
      rec.op("append")(write(fs, f, obs))(_ => { rows += obs.size; true })
    }
    features.indices.foreach { f =>
      val obs = gen.corrections(f, d - 1)
      rec.op("correct")(write(fs, f, obs))(_ => { rows += obs.size; true })
    }
    day += 1
    freshRead(fs, rec, d)
    val parts = Seq(partition(d - 1), partition(d))
    features.indices.foreach { f =>
      rec.op("compact")(fs.compactFeature(features(f), parts)) { _ =>
        compactModel(f, parts.toSet)
        true
      }
    }
    if (bytesPerRow.isEmpty) bytesPerRow = Some(super.diskBytesPerRow(fs, rec))
  }

  private var bytesPerRow: Option[Double] = None

  /** Taken after the first cycle, which the warm-up always runs: log
    * bytes grow with every commit, so a figure taken wherever the timed
    * loop happened to stop would vary with the box's speed. */
  override def diskBytesPerRow(fs: FeatureStore, rec: Recorder): Double = bytesPerRow.get

  /** Compaction keeps one version per time in the compacted partitions. */
  private def compactModel(f: Int, parts: Set[String]): Unit = {
    val (in, out) =
      versions(f).partition(o => parts(partition(((o.time - Gen.T0) / Gen.DayUs).toInt)))
    val winners = in.groupBy(_.time).values.map(_.maxBy(o => (o.created, o.value)))
    versions(f) = out ++ winners
  }

  private def freshRead(fs: FeatureStore, rec: Recorder, d: Int): Unit = {
    val wantLast = features.indices.map(f => features(f) -> Some(series(f).last._2)).toMap
    val fromUs = Gen.T0 + (d - 1) * Gen.DayUs
    val toUs = Gen.T0 + (d + 1) * Gen.DayUs - Gen.SecUs
    val wantLoad = rangeFingerprint(fromUs, toUs, Some(Gen.HourUs))
    rec.op("fresh_read") {
      val last = fs.last(features)
      val df = fs.loadDataFrame(features, Some(Gen.ts(fromUs)), Some(Gen.ts(toUs)),
        timeTravel = Some(travel))
      rec.planned(df)
      (last, Fingerprint.of(df, Seq("time"), features))
    } { case (last, fp) =>
      rec.returned(features.size + fp._2)
      expectSeq("fresh last", features.map(last), features.map(wantLast)) &&
        expectSeq("fresh load fingerprint", Seq(fp), Seq(wantLoad))
    }
  }

  /** A ranged load without resample: the union of the features' times
    * in range, each feature forward-filled from its in-range rows. */
  private def rangeFingerprint(fromUs: Long, toUs: Long, travelUs: Option[Long]): (Long, Long) = {
    val ss = features.indices.map(f =>
      series(f, travelUs).filter { case (t, _) => t >= fromUs && t <= toUs })
    val times = ss.flatMap(_.map(_._1)).distinct.sorted
    Fingerprint.ofRows(times.iterator.map(t => (Seq(t), ss.map(Expect.asOf(_, t)))), Seq(true))
  }

  /** Every feature's full deduped series. */
  override def endChecks(fs: FeatureStore, rec: Recorder): Unit =
    features.indices.foreach { f =>
      val want = Fingerprint.ofRows(series(f).iterator.map { case (t, v) =>
        (Seq(t), Seq(Some(v)))
      }, Seq(true))
      rec.op("end_state") {
        Fingerprint.of(fs.loadDataFrame(Seq(features(f))), Seq("time"), Seq(features(f)))
      } { got => expectSeq(s"end state of ${features(f)}", Seq(got), Seq(want)) }
    }

  def work: Long = rows
}

object Disk {
  /** Bytes under the namespace's feature directories: data files and
    * transaction logs, without checksum side files. */
  def bytes(spark: SparkSession, url: String): Long = {
    val p = new Path(s"$url/feature")
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(q: Path): Long = fsys.listStatus(q).iterator.map { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".crc")) 0L
      else st.getLen
    }.sum
    if (fsys.exists(p)) walk(p) else 0L
  }
}
