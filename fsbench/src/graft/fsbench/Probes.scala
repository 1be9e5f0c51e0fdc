package graft.fsbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.TimeseriesOps
import graft.store.{TimeseriesStore, TxLog}

/** Direct calls into the store, txlog and ops layers on a workload's
  * stored data, each timed as a window of its own. Returns the
  * per-layer metrics they give. */
object Probes {
  private val Reps = 2

  def run(spark: SparkSession, tracer: Tracer, wl: Workload): Seq[(String, Double)] = {
    val st = new TimeseriesStore(spark, wl.url, Map.empty, wl.backend)
    try
      store(spark, tracer, wl, st, wl.url) ++ txlog(spark, tracer, wl, wl.url) ++
        ops(spark, tracer, wl, st)
    finally st.close()
  }

  private def med(ws: Seq[Window], f: Window => Double): Double = Stats.median(ws.map(f))
  private def name(wl: Workload, i: Int): String = wl.features(i).split("/")(1)

  private def store(spark: SparkSession, tracer: Tracer, wl: Workload, st: TimeseriesStore,
      url: String): Seq[(String, Double)] = {
    val f0 = name(wl, 0)
    val lists = (1 to Reps).map(_ => tracer.window("store", "listPartitions")(
      st.listPartitions(f0, reverse = true))._2)
    val reads = (1 to Reps).map { _ =>
      val (df, plan) = tracer.window("store", "read_plan")(wl.probeRead(st, f0))
      val (_, exec) = tracer.window("store", "read_exec")(
        Fingerprint.of(df, Seq("time", "created_time"), Seq("value")))
      (plan, exec)
    }
    // the write path on a feature of its own beside the workload's: day
    // appends, late corrections to them, then compaction of those days
    val probe = "fsbench_probe"
    val g = new Gen(wl.seed ^ 0x5eed, wl.shape.rowsPerDay, 0.5)
    val saves = (0 until Reps).map { d =>
      tracer.window("store", "save")(st.save(probe, Gen.frame(spark, g.day(0, d))))._2
    }
    st.save(probe, Gen.frame(spark, (0 until Reps).flatMap(d => g.corrections(0, d))))
    val parts = st.listPartitions(probe)
    val (_, compact) = tracer.window("store", "compact")(st.compact(probe, parts))
    st.delete(probe)
    Seq(
      "store.list_partitions_ms" -> med(lists, _.wallMs),
      "store.read_plan_ms" -> med(reads.map(_._1), _.wallMs),
      "store.read_exec_ms" -> med(reads.map(_._2), _.wallMs),
      "store.save_ms" -> med(saves, _.wallMs),
      "store.save_job_ms" -> med(saves, _.jobMs),
      "store.save_driver_ms" -> med(saves, _.driverGapMs),
      "store.compact_ms" -> compact.wallMs,
      "store.files_per_partition" -> filesPerPartition(spark, url, f0))
  }

  /** Live data files per partition of feature `f`: from the log on the
    * txlog backend, from the directory tree on the plain one. */
  private def filesPerPartition(spark: SparkSession, url: String, f: String): Double = {
    val dir = s"$url/feature/$f"
    val conf = spark.sparkContext.hadoopConfiguration
    if (TxLog.isLogTable(conf, dir)) {
      val adds = new TxLog(conf, dir).snapshot()
      adds.size.toDouble / adds.map(_.partition).distinct.size
    } else {
      val p = new Path(dir)
      val fsys = p.getFileSystem(conf)
      val counts = fsys.listStatus(p).filter(_.getPath.getName.startsWith("partition="))
        .map(d => fsys.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet")))
      counts.sum.toDouble / counts.length
    }
  }

  private def txlog(spark: SparkSession, tracer: Tracer, wl: Workload, url: String)
      : Seq[(String, Double)] = {
    val dir = s"$url/feature/${name(wl, 0)}"
    val conf = spark.sparkContext.hadoopConfiguration
    if (!TxLog.isLogTable(conf, dir))
      Seq("txlog.replay_ms" -> 0.0, "txlog.versions" -> 0.0, "txlog.live_files" -> 0.0)
    else {
      // a new TxLog has no replay cache: each snapshot is a cold replay
      val replays = (1 to Reps).map(_ => tracer.window("txlog", "replay")(
        new TxLog(conf, dir).snapshot())._2)
      val log = new TxLog(conf, dir)
      Seq(
        "txlog.replay_ms" -> med(replays, _.wallMs),
        "txlog.versions" -> (log.latestVersion() + 1).toDouble,
        "txlog.live_files" -> log.snapshot().size.toDouble)
    }
  }

  /** Each stage of the read pipeline materialised in turn from the
    * previous stage's cached output, so each time is that stage alone. */
  private def ops(spark: SparkSession, tracer: Tracer, wl: Workload, st: TimeseriesStore)
      : Seq[(String, Double)] = {
    val (fromUs, toUs) = wl.probeWindow
    val (from, to) = (Gen.ts(fromUs), Gen.ts(toUs))
    val names = (0 until math.min(3, wl.features.size)).map(name(wl, _))
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_ONLY) }
    def stage(kind: String, dfs: Seq[DataFrame], times: Seq[String], values: Seq[Seq[String]])
        : Window =
      tracer.window("ops", kind)(dfs.zip(values).foreach { case (df, v) =>
        Fingerprint.of(df, times, v)
      })._2
    try {
      val raw = names.map(n => keep(st.read(n, Some(from), Some(to))))
      raw.foreach(_.count())
      val dedup = raw.map(r => keep(TimeseriesOps.dedupLatest(r)))
      val wDedup = stage("dedup", dedup, Seq("time", "created_time"), names.map(_ => Seq("value")))
      val resampled = dedup.zip(names).map { case (d, n) =>
        keep(TimeseriesOps.resample(d, from, to, "1h", Seq("value")).withColumnRenamed("value", n))
      }
      val wResample = stage("resample", resampled, Seq("time"), names.map(Seq(_)))
      val aligned = keep(TimeseriesOps.alignJoin(resampled))
      val wAlign = stage("align", Seq(aligned), Seq("time"), Seq(names))
      val r = new java.util.SplittableRandom(wl.seed)
      val labelRows = new java.util.ArrayList[Row]()
      (0 until 200).map(_ => fromUs + r.nextLong(toUs - fromUs) / Gen.SecUs * Gen.SecUs).distinct
        .zipWithIndex.foreach { case (t, i) => labelRows.add(Row(Gen.ts(t), i.toLong)) }
      val labels = spark.createDataFrame(labelRows, StructType(Seq(
        StructField("time", TimestampType), StructField("label_id", LongType))))
      val asof = TimeseriesOps.asofJoin(labels, aligned, names, rightUnique = true)
      val wAsof = stage("asof", Seq(asof), Seq("time", "label_id"), Seq(names))
      Seq(
        "ops.dedup_ms" -> wDedup.wallMs,
        "ops.resample_ms" -> wResample.wallMs,
        "ops.align_ms" -> wAlign.wallMs,
        "ops.asof_ms" -> wAsof.wallMs)
    } finally cached.foreach(_.unpersist(blocking = true))
  }
}
