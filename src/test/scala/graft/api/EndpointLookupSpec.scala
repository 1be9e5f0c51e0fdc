package graft.api

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.catalog.Namespace
import graft.ops.TimeseriesOps
import graft.store.TimeseriesStore

/** Local filesystem that records every path it lists or opens. */
class RecordingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    RecordingLocalFs.touched.add(f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    RecordingLocalFs.touched.add(f); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    RecordingLocalFs.touched.add(f); super.listStatusIterator(f)
  }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    RecordingLocalFs.touched.add(f); super.open(f, bufferSize)
  }
}

object RecordingLocalFs {
  val touched = new ConcurrentLinkedQueue[Path]()
}

/** The plain backend's endpoint lookup (`last()` / `first()`): the store
  * opens only the ladder's partition directories at the pinned schema,
  * and each ladder width costs one top-1 Spark job. The answers must
  * be those of the full pipeline — a whole-feature read, time travel,
  * `dedupLatest`, then `lastRow`/`firstRow` and the serialized unwrap.
  */
class EndpointLookupSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (FeatureStore, Namespace) = {
    val dir = tmpDir("graft-endpoint")
    val fs = new FeatureStore(spark, s"$dir/catalog.json")
    fs.createNamespace("test", s"$dir/warehouse")
    (fs, fs.listNamespaces(Some("^test$")).head)
  }

  private def day(i: Int): Timestamp = new Timestamp(ts("2024-01-01").getTime + i * 86400000L)

  /** Two rows a day over `days` days, plus a later correction of each
    * day's first row. */
  private def daily(days: Int) = (0 until days).flatMap { i =>
    val t = day(i)
    val later = new Timestamp(t.getTime + 3600000L)
    Seq((t, t, i + 1.0), (new Timestamp(t.getTime + 60000L), t, i + 1.5), (t, later, -(i + 1.0)))
  }.toDF("time", "created_time", "value")

  /** The endpoint the full pipeline picks from a whole-feature read. */
  private def expected(
      fs: FeatureStore, ns: Namespace, name: String,
      timeTravel: Option[String], fromTail: Boolean): Option[Any] = {
    val f = fs.catalog.getFeature("test", name).get
    val raw = fs.store(ns).read(name,
      valueType = if (f.serialized) StringType else DoubleType, partitionStyle = f.partition)
    val d = TimeseriesOps.dedupLatest(timeTravel.map(TimeseriesOps.timeTravel(raw, _)).getOrElse(raw))
    val end = if (fromTail) TimeseriesOps.lastRow(d) else TimeseriesOps.firstRow(d)
    val v = if (f.serialized) get_json_object(col("value"), "$.v") else col("value")
    end.select(v).collect().headOption.map(_.get(0)).filter(_ != null)
  }

  test("last() and first() on a 40-partition feature run one Spark job each") {
    val (fs, _) = freshStore()
    fs.createFeature("test/deep")
    fs.saveDataFrame(daily(40), Some("test/deep"))
    val (last, lastJobs) = withJobCount(fs.last(Seq("test/deep")))
    val (first, firstJobs) = withJobCount(fs.first(Seq("test/deep")))
    assert(last("test/deep").contains(40.5) && first("test/deep").contains(-1.0))
    assert(lastJobs == 1, s"last() ran $lastJobs jobs")
    assert(firstJobs == 1, s"first() ran $firstJobs jobs")
    fs.createFeature("test/deep2", serialized = true)
    fs.saveDataFrame(daily(35), Some("test/deep2"))
    val (two, twoJobs) = withJobCount(fs.last(Seq("test/deep", "test/deep2")))
    assert(two("test/deep2").contains("35.5"))
    assert(twoJobs == 2)
  }

  test("readPartitions lists and opens nothing outside the requested partitions") {
    val dir = tmpDir("graft-endpoint-fs")
    val st = new TimeseriesStore(spark, dir, storageOptions = Map(
      "fs.file.impl" -> classOf[RecordingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true"))
    st.save("f", daily(40))
    val parts = st.listPartitions("f", reverse = true).take(3)
    val wanted = parts.map(p => new Path(s"$dir/feature/f/partition=$p").toUri.getPath)
    RecordingLocalFs.touched.clear()
    val rows = st.readPartitions("f", parts, DoubleType).collect()
    assert(rows.length == 9)
    val touched = RecordingLocalFs.touched.toArray(Array.empty[Path]).map(_.toUri.getPath).toSeq
    assert(touched.nonEmpty)
    val outside = touched.filterNot(p => wanted.exists(w => p == w || p.startsWith(w + "/")))
    assert(outside.isEmpty, s"touched outside the requested partitions: $outside")
    st.close()
  }

  test("an unpinned LongType feature written through the store keeps its exact Long") {
    val (fs, ns) = freshStore()
    fs.createFeature("test/raw")
    val big = (1L << 53) + 1 // not representable as a double
    fs.store(ns).save("raw",
      Seq((day(0), big - 7), (day(1), big)).toDF("time", "value"))
    assert(fs.catalog.getFeature("test", "raw").get.valueType.isEmpty)
    assert(fs.last(Seq("test/raw"))("test/raw").contains(big))
    assert(fs.first(Seq("test/raw"))("test/raw").contains(big - 7))
  }

  test("partition directories without data files read as the empty envelope") {
    val (fs, ns) = freshStore()
    fs.createFeature("test/holes")
    fs.saveDataFrame(daily(5), Some("test/holes"))
    val root = s"${ns.url}/feature/holes"
    val empties = Seq("2024-02-01", "2024-02-02", "2024-02-03")
    empties.foreach(p => new java.io.File(s"$root/partition=$p").mkdirs())
    val st = fs.store(ns)
    for (vt <- Seq(Some(DoubleType), None)) {
      val df = st.readPartitions("holes", empties, vt)
      assert(df.columns.toSeq == Seq("time", "created_time", "value"))
      assert(df.count() == 0)
    }
    // the three newest directories are empty, so the ladder widens
    assert(fs.last(Seq("test/holes"))("test/holes").contains(5.5))
    fs.createFeature("test/hollow")
    new java.io.File(s"${ns.url}/feature/hollow/partition=2024-01-01").mkdirs()
    assert(fs.last(Seq("test/hollow"))("test/hollow").isEmpty)
  }

  test("year partitions and serialized features: endpoints match the dedup pipeline") {
    val (fs, ns) = freshStore()
    fs.createFeature("test/yr", partition = "year")
    fs.createFeature("test/ser", serialized = true)
    val rnd = new scala.util.Random(7)
    val base = ts("2019-06-01").getTime
    val rows = (0 until 80).map { _ =>
      // a few event instants a year over six years: duplicate times
      val t = new Timestamp(base + rnd.nextInt(6) * 366L * 86400000L + rnd.nextInt(3) * 3600000L)
      val c = new Timestamp(t.getTime + Seq(-3600000L, 0L, 1800000L, 2 * 86400000L)(rnd.nextInt(4)))
      val v: java.lang.Double = if (rnd.nextInt(10) == 0) null else Double.box(rnd.nextInt(5).toDouble)
      (t, c, v)
    }.toDF("time", "created_time", "value")
    fs.saveDataFrame(rows, Some("test/yr"))
    fs.saveDataFrame(rows.filter(col("time") >= ts("2023-01-01")), Some("test/ser"))
    for (name <- Seq("yr", "ser"); tt <- Seq(None, Some("0s"), Some("1h")); tail <- Seq(true, false)) {
      val full = s"test/$name"
      val got = (if (tail) fs.last(Seq(full), tt) else fs.first(Seq(full), tt))(full)
      val want = expected(fs, ns, name, tt, tail)
      assert(got == want, s"$name travel=$tt tail=$tail: got $got, want $want")
    }
  }
}
