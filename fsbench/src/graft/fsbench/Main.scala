package graft.fsbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.FeatureStore
import graft.catalog.{Catalog, CatalogApi}

/** Feature-store benchmark entry point:
  *
  * {{{
  * Main --workload <serve_last|train_load|ingest_upsert> --seed <n>
  *      --seconds <s> --trace <0|1> --work <scratch dir>
  * }}}
  *
  * Prints one `[fsbench]` line per metric, then the result as one JSON
  * object on the last line. Exits 1 when any check failed. */
object Main {
  /** Store builds per run, each into a fresh warehouse; `setup_s` takes
    * their median. */
  val Builds = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File,
      traceOut: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")).getAbsoluteFile,
      m.getOrElse("trace-out", s"fsbench-trace-${need("workload")}-${need("seed")}.jsonl"))
    require(Workload.names.contains(a.workload), s"unknown workload '${a.workload}'")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(nproc: Int, work: File, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("fsbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").toString)
    (if (traced) Tracer.configure(b) else b).getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val load = new LoadStamps
    val nproc = Load.nproc
    val t0 = System.nanoTime()
    val spark = session(nproc, args.work, args.trace)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, args, load)
    val result =
      try {
        if (args.trace) run.traced() else run.untraced(sessionS)
      } finally {
        run.cleanup()
        spark.stop()
      }
    load.sample()
    val correct = result.failed == 0 && run.hygieneOk
    result.readable.foreach(l => println(s"[fsbench] $l"))
    println(s"[fsbench] error_rate ${result.failed.toDouble / result.attempted} failed/attempted")
    println(s"[fsbench] nproc $nproc loadavg start ${load.start} max ${load.max} end ${load.last}")
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> correct,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "metrics" -> mutable.LinkedHashMap(result.metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
      }: _*))))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}

/** Process-wide JVM figures: peak resident set and total GC time. */
object Jvm {
  def rssPeakMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }
}

/** /proc/loadavg stamps at start, maximum and end of a run. */
final class LoadStamps {
  val start: Double = Load.now
  var max: Double = start
  var last: Double = start
  def sample(): Unit = { last = Load.now; max = math.max(max, last) }
}

final case class Result(
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, (Double, String))],
    readable: Seq[String])

/** One benchmark run: fresh warehouses under the work dir, the builds,
  * the loop, and cleanup. */
final class Run(spark: SparkSession, args: Main.Args, load: LoadStamps) {
  private val openStores = mutable.ArrayBuffer[FeatureStore]()
  var hygieneOk = true

  def storeUrl(tag: String): String = new File(new File(args.work, s"wh-$tag"), "ns").toString

  /** A fresh warehouse and catalog: (facade, namespace url). */
  def freshStore(tag: String, wrap: CatalogApi => CatalogApi = identity): (FeatureStore, String) = {
    val dir = new File(args.work, s"wh-$tag")
    Run.delete(dir)
    require(dir.mkdirs(), s"cannot create $dir")
    reopen(tag, wrap)
  }

  /** A new facade over an existing warehouse's catalog. */
  def reopen(tag: String, wrap: CatalogApi => CatalogApi = identity): (FeatureStore, String) = {
    val dir = new File(args.work, s"wh-$tag")
    val catalog = wrap(new Catalog(new File(dir, "catalog.json").toString,
      spark.sparkContext.hadoopConfiguration))
    val fs = new FeatureStore(spark, catalog)
    openStores += fs
    (fs, storeUrl(tag))
  }

  def dropStore(fs: FeatureStore, tag: String): Unit = {
    fs.close()
    openStores -= fs
    Run.delete(new File(args.work, s"wh-$tag"))
  }

  /** Build `Main.Builds` times, each into a fresh warehouse; keep the
    * last. Returns its facade and the build seconds. */
  def builds(wl: Workload, rec: Recorder): (FeatureStore, Seq[Double]) = {
    var kept: (FeatureStore, String) = null
    val secs = (1 to Main.Builds).map { b =>
      if (kept != null) dropStore(kept._1, s"build${b - 1}")
      kept = freshStore(s"build$b")
      val t = System.nanoTime()
      rec.op("build")(wl.build(kept._1, kept._2))(_ => true)
      (System.nanoTime() - t) / 1e9
    }
    (kept._1, secs)
  }

  def untraced(sessionS: Double): Result = {
    val wl = Workload(args.workload, spark, args.seed)
    val rec = new Recorder()
    val (fs, buildS) = builds(wl, rec)
    val tw = System.nanoTime()
    (1 to wl.warmIterations).foreach(_ => wl.iterate(fs, rec))
    val warmS = (System.nanoTime() - tw) / 1e9
    rec.millis.clear()
    val work0 = wl.work
    val ts = System.nanoTime()
    val deadline = ts + (args.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) { wl.iterate(fs, rec); load.sample() }
    val wallS = (System.nanoTime() - ts) / 1e9
    val workPerS = (wl.work - work0) / wallS
    val bytesPerRow = wl.diskBytesPerRow(fs, rec)
    wl.endChecks(fs, rec)
    val main = wl.mainOps.flatMap(rec.millis.getOrElse(_, Nil))
    val setupS = sessionS + Stats.median(buildS) + warmS
    val metrics = Seq(
      "setup_s" -> (setupS, "s"),
      "op_ms_p50" -> (Stats.median(main), "ms"),
      "work_per_s" -> (workPerS, "1/s"),
      "disk_bytes_per_row" -> (bytesPerRow, "B/row"))
    val perKind = rec.millis.toSeq.map { case (k, xs) =>
      f"$k%-10s n=${xs.size}%4d p50=${Stats.median(xs.toSeq)}%9.2f ms " +
        f"p90=${Stats.quantile(xs.toSeq, 0.9)}%9.2f ms p95=${Stats.quantile(xs.toSeq, 0.95)}%9.2f ms"
    }
    val readable = metrics.map { case (k, (v, u)) => s"$k $v $u" } ++
      Seq(f"session_s $sessionS%.3f build_s ${buildS.map(s => f"$s%.3f").mkString(",")} " +
        f"warm_s $warmS%.3f timed_s $wallS%.3f work ${wl.work - work0} ${Run.workUnit(args.workload)} " +
        s"in ${wl.iterationsDone - wl.warmIterations} iterations") ++
      rec.millis.toSeq.map { case (k, xs) => s"$k ms in order: " + xs.map(x => f"$x%.0f").mkString(" ") } ++
      perKind
    Result(rec.attempted, rec.failed, metrics, readable)
  }

  /** The traced run. After one build and the warm-up, the same
    * operation sequence runs three times, each pass on a fresh workload
    * instance of the same seed (on a fresh store when the loop writes):
    * traced (T1, a third of the run length, which sets the pass's
    * iteration count), untraced (U), traced again (T2). T1 gives the
    * per-op counters, T2 must repeat T1's exact counters, and
    * `trace_overhead` is the mean of T1 and T2 over U in wall time.
    * Then direct probes time the store, txlog and ops layers on the
    * same data. */
  def traced(): Result = {
    val rec = new Recorder()
    val wl0 = Workload(args.workload, spark, args.seed)
    val (fs0, _) = freshStore("base")
    rec.op("build")(wl0.build(fs0, storeUrl("base")))(_ => true)
    (1 to wl0.warmIterations).foreach(_ => wl0.iterate(fs0, rec))

    def pass(tag: String, tracer: Option[Tracer], iterations: Option[Int])
        : (Workload, Recorder) = {
      val wl = Workload(args.workload, spark, args.seed)
      val wrap: CatalogApi => CatalogApi = c => tracer.fold(c)(t => new CountingCatalog(c, t))
      val fs =
        if (wl.readOnly) { wl.adopt(wl0); reopen("base", wrap)._1 }
        else {
          val (f, u) = freshStore(tag, wrap)
          rec.op("build")(wl.build(f, u))(_ => true)
          f
        }
      val r = new Recorder(tracer)
      val deadline = System.nanoTime() + (args.seconds / 3 * 1e9).toLong
      iterations match {
        case Some(n) => (1 to n).foreach(_ => wl.iterate(fs, r))
        case None =>
          // every iteration runs each operation kind of the loop once
          do wl.iterate(fs, r) while (System.nanoTime() < deadline)
      }
      load.sample()
      rec.attempted += r.attempted
      rec.failed += r.failed
      (wl, r)
    }

    val tracer = new Tracer(spark)
    tracer.attach()
    val (wl1, rec1) = pass("t1", Some(tracer), None)
    val iterations = wl1.iterationsDone
    val w1 = tracer.windows.toVector
    tracer.windows.clear()
    tracer.detach()
    val (_, recU) = pass("u", None, Some(iterations))
    tracer.attach()
    val (wl2, rec2) = pass("t2", Some(tracer), Some(iterations))
    val w2 = tracer.windows.toVector
    tracer.windows.clear()
    // load cannot move these: a mismatch means the benchmark or the
    // program is not deterministic
    val exact1 = w1.map(w => (w.kind, w.exact))
    val exact2 = w2.map(w => (w.kind, w.exact))
    if (exact1 != exact2) {
      rec.attempted += 1
      rec.failed += 1
      exact1.zip(exact2).zipWithIndex.filter(x => x._1._1 != x._1._2).take(5).foreach {
        case ((a, b), i) => Console.err.println(s"[fsbench] traced passes disagree at op $i: $a vs $b")
      }
    }
    val probes = Probes.run(spark, tracer, wl2)
    tracer.detach()
    load.sample()
    tracer.write(new File(args.traceOut), Map("workload" -> args.workload, "seed" -> args.seed,
      "nproc" -> Load.nproc, "loadavg_start" -> load.start, "loadavg_max" -> load.max,
      "loadavg_end" -> load.last))

    def mean(f: Window => Double, ws: Seq[Window] = w1): Double =
      if (ws.isEmpty) 0.0 else ws.map(f).sum / ws.size
    val planned = w1.filter(_.planMs.isDefined)
    val overhead = (k: Option[String]) => {
      def sum(r: Recorder) = r.millis.iterator.filter(x => k.forall(_ == x._1)).flatMap(_._2).sum
      (sum(rec1) + sum(rec2)) / 2 / sum(recU)
    }
    val metrics: Seq[(String, (Double, String))] = Seq(
      "api.plan_ms" -> (mean(_.planMs.get, planned), "ms"),
      "api.eager_jobs" -> (mean(_.eagerJobs.toDouble, planned), "jobs/op"),
      "catalog.calls_per_op" -> (mean(_.catalogCalls.toDouble), "calls/op"),
      "catalog.ms_per_op" -> (mean(_.catalogMs), "ms/op")) ++
      probes.map { case (k, v) => k -> (v, Run.unitOf(k)) } ++ Seq(
      "store.scan_amplification" -> (w1.map(_.recordsRead).sum.toDouble / math.max(1L, rec1.rowsOut),
        "records/row"),
      "store.fs_list_calls" -> (mean(_.fs.list.toDouble), "calls/op"),
      "store.fs_open_calls" -> (mean(_.fs.open.toDouble), "calls/op"),
      "store.fs_create_calls" -> (mean(_.fs.create.toDouble), "calls/op"),
      "store.fs_rename_calls" -> (mean(_.fs.rename.toDouble), "calls/op"),
      "store.fs_bytes_read" -> (mean(_.fs.bytesRead.toDouble), "B/op"),
      "store.fs_bytes_written" -> (mean(_.fs.bytesWritten.toDouble), "B/op"),
      "ops.exchanges" -> (mean(_.exchanges.get.toDouble, planned), "exchanges/op"),
      "spark.jobs" -> (mean(_.jobs.toDouble), "jobs/op"),
      "spark.stages" -> (mean(_.stages.toDouble), "stages/op"),
      "spark.tasks" -> (mean(_.tasks.toDouble), "tasks/op"),
      "spark.job_ms" -> (mean(_.jobMs), "ms/op"),
      "spark.driver_gap_ms" -> (mean(_.driverGapMs), "ms/op"),
      "spark.task_cpu_ms" -> (mean(_.taskCpuMs), "ms/op"),
      "spark.shuffle_write_bytes" -> (mean(_.shuffleWriteBytes.toDouble), "B/op"),
      "spark.spill_bytes" -> (mean(_.spillBytes.toDouble), "B/op"),
      "spark.analysis_ms" -> (mean(_.analysisMs), "ms/op"),
      "spark.optimization_ms" -> (mean(_.optimizationMs), "ms/op"),
      "spark.planning_ms" -> (mean(_.planningMs), "ms/op"),
      "jvm.rss_peak_mb" -> (Jvm.rssPeakMb, "MB"),
      "jvm.gc_ms" -> (Jvm.gcMs, "ms"),
      "trace_overhead" -> (overhead(None), "ratio"))
    val kinds = rec1.millis.keys.toSeq
    val readable = metrics.map { case (k, (v, u)) => s"$k $v $u" } ++
      Seq(s"passes of $iterations iterations; trace file ${args.traceOut}") ++
      kinds.map { k =>
        val ws = w1.filter(_.kind == k)
        f"trace_overhead.$k ${overhead(Some(k))}%.3f; per op: jobs ${mean(_.jobs.toDouble, ws)}%.1f " +
          f"eager_jobs ${mean(_.eagerJobs.toDouble, ws)}%.1f job_ms ${mean(_.jobMs, ws)}%.1f " +
          f"driver_gap_ms ${mean(_.driverGapMs, ws)}%.1f fs_list ${mean(_.fs.list.toDouble, ws)}%.1f " +
          f"fs_open ${mean(_.fs.open.toDouble, ws)}%.1f catalog_calls ${mean(_.catalogCalls.toDouble, ws)}%.1f"
      }
    Result(rec.attempted, rec.failed, metrics.sortBy(_._1), readable)
  }

  def cleanup(): Unit = {
    openStores.foreach(_.close())
    openStores.clear()
    // nothing may outlive the run in the session
    val leftovers = Seq(
      "persisted RDDs" -> spark.sparkContext.getPersistentRDDs.size,
      "temp views" -> spark.catalog.listTables().collect().count(_.isTemporary),
      "streaming queries" -> spark.streams.active.length)
    leftovers.filter(_._2 > 0).foreach { case (what, n) =>
      Console.err.println(s"[fsbench] run left $n $what behind")
      hygieneOk = false
    }
    Option(args.work.listFiles()).foreach(_.filter(_.getName.startsWith("wh-")).foreach(Run.delete))
  }
}

object Run {
  def unitOf(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric == "store.files_per_partition") "files/partition"
    else if (metric == "txlog.versions") "versions"
    else if (metric == "txlog.live_files") "files"
    else "count"

  def workUnit(workload: String): String = workload match {
    case "serve_last" => "values"
    case "train_load" => "cells"
    case _            => "rows"
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
