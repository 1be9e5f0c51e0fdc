package graft.fsbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.FsbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.{CatalogApi, Feature, Namespace, TransformSpec}

/** Calls into the local file system, process-wide. */
object FsCalls {
  val list, open, create, rename = new AtomicLong

  def snapshot(): FsSnap = {
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsSnap(list.get, open.get, create.get, rename.get,
      stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }
}

final case class FsSnap(list: Long, open: Long, create: Long, rename: Long,
    bytesRead: Long, bytesWritten: Long) {
  def -(o: FsSnap): FsSnap = FsSnap(list - o.list, open - o.open, create - o.create,
    rename - o.rename, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

/** The local file system, counting the calls the store makes: listings,
  * opens, creates and renames. Traced runs install it for `file:`. */
class CountingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCalls.list.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    FsCalls.list.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    FsCalls.list.incrementAndGet(); super.listStatusIterator(f)
  }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    FsCalls.open.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FsCalls.create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FsCalls.create.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCalls.rename.incrementAndGet(); super.rename(src, dst)
  }
}

/** A timing `CatalogApi`: every call becomes a catalog span. */
final class CountingCatalog(inner: CatalogApi, tracer: Tracer) extends CatalogApi {
  private def call[T](name: String)(body: => T): T = tracer.catalogCall(name)(body)

  def listNamespaces(regex: Option[String]): Seq[Namespace] =
    call("listNamespaces")(inner.listNamespaces(regex))
  def getNamespace(name: String): Option[Namespace] = call("getNamespace")(inner.getNamespace(name))
  def createNamespace(ns: Namespace): Unit = call("createNamespace")(inner.createNamespace(ns))
  def updateNamespace(name: String, description: Option[String],
      meta: Map[String, Option[String]], storageOptions: Option[Map[String, String]]): Unit =
    call("updateNamespace")(inner.updateNamespace(name, description, meta, storageOptions))
  def deleteNamespace(name: String): Unit = call("deleteNamespace")(inner.deleteNamespace(name))
  def listFeatures(namespace: Option[String], regex: Option[String]): Seq[Feature] =
    call("listFeatures")(inner.listFeatures(namespace, regex))
  def getFeature(namespace: String, name: String): Option[Feature] =
    call("getFeature")(inner.getFeature(namespace, name))
  def createFeature(f: Feature): Unit = call("createFeature")(inner.createFeature(f))
  def updateFeature(namespace: String, name: String, description: Option[String],
      meta: Map[String, Option[String]], transform: Option[TransformSpec],
      valueType: Option[String]): Unit =
    call("updateFeature")(inner.updateFeature(namespace, name, description, meta, transform,
      valueType))
  def deleteFeature(namespace: String, name: String): Unit =
    call("deleteFeature")(inner.deleteFeature(namespace, name))
  def cloneFeature(srcNs: String, srcName: String, dstNs: String, dstName: String): Feature =
    call("cloneFeature")(inner.cloneFeature(srcNs, srcName, dstNs, dstName))
  private[graft] def pinValueType(namespace: String, name: String, dtJson: String): Unit =
    call("pinValueType")(inner.pinValueType(namespace, name, dtJson))
  override def createFeatures(fs: Seq[Feature]): Unit =
    call("createFeatures")(inner.createFeatures(fs))
}

/** One span: a timed call at a layer boundary. Times are epoch nanos
  * from the run's clock; `parent` is the enclosing span's id (0: none). */
final case class Span(id: Long, parent: Long, layer: String, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Any] = Map.empty)

/** Counters of one traced window (an operation or a direct layer call). */
final case class Window(
    kind: String,
    wallMs: Double,
    planMs: Option[Double],
    eagerJobs: Long,
    jobs: Long,
    stages: Long,
    tasks: Long,
    jobMs: Double,
    taskCpuMs: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    recordsRead: Long,
    analysisMs: Double,
    optimizationMs: Double,
    planningMs: Double,
    catalogCalls: Long,
    catalogMs: Double,
    fs: FsSnap,
    exchanges: Option[Int]) {
  def driverGapMs: Double = wallMs - jobMs

  /** The counters that must repeat exactly when the same operations run
    * again on the same data: box load cannot move them. */
  def exact: Seq[(String, Long)] = Seq(
    "spark.jobs" -> jobs, "api.eager_jobs" -> eagerJobs,
    "store.fs_list_calls" -> fs.list, "store.fs_open_calls" -> fs.open,
    "store.fs_create_calls" -> fs.create, "store.fs_rename_calls" -> fs.rename,
    "ops.exchanges" -> exchanges.getOrElse(0).toLong)
}

/** Listeners, file-system counters and spans for a traced run. One
  * window is open at a time: the bus is drained at both of its ends, so
  * every event inside belongs to it. Spans stay in memory until
  * `write`. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowNs: Long = epochNs + System.nanoTime()

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var current = 0L // open window's span id

  // listener state: written on the bus thread, read after a drain
  private var jobs, eagerJobs, stages, tasks, shuffleW, spill, records = 0L
  private var cpuNs = 0L
  private var analysisMs, optimizationMs, planningMs = 0.0
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  private var catalogCalls = 0L
  private var catalogNs = 0L

  private val Phase = "fsbench.phase"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      jobs += 1
      if (Option(e.properties).exists(_.getProperty(Phase) == "plan")) eagerJobs += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        cpuNs += m.executorCpuTime
        shuffleW += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        records += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = locked {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      analysisMs += ms("analysis")
      optimizationMs += ms("optimization")
      planningMs += ms("planning")
    }
  }

  // the listeners run on the bus thread; lock the tracer, not the listener
  private def locked(body: => Unit): Unit = this.synchronized(body)

  require(FileSystem.get(new java.net.URI("file:///"), sc.hadoopConfiguration)
    .isInstanceOf[CountingFs], "the counting file system is not installed for file:")

  /** Start listening; an untraced pass runs between `detach` and `attach`. */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    FsbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  // -- windows ---------------------------------------------------------

  private var kind, layer = ""
  private var startNs, plannedNs = 0L
  private var exchanges: Option[Int] = None
  private var fs0: FsSnap = _
  val windows = mutable.ArrayBuffer[Window]()

  /** Open a window of `kind`, inside layer `layer`. */
  def begin(kind: String, layer: String = "api"): Unit = {
    FsbenchBus.drain(sc)
    this.synchronized {
      jobs = 0; eagerJobs = 0; stages = 0; tasks = 0; shuffleW = 0; spill = 0; records = 0
      cpuNs = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0
      jobStarts.clear(); jobIntervals.clear()
    }
    catalogCalls = 0; catalogNs = 0
    this.kind = kind
    this.layer = layer
    exchanges = None
    plannedNs = 0L
    nextId += 1
    current = nextId
    sc.setLocalProperty(Phase, "plan")
    fs0 = FsCalls.snapshot()
    startNs = nowNs
  }

  /** The facade returned its lazy frame: the api layer's planning ends. */
  def planned(df: DataFrame): Unit = {
    plannedNs = nowNs
    sc.setLocalProperty(Phase, "exec")
    exchanges = Some(Tracer.exchanges(df.queryExecution.executedPlan))
  }

  /** Close the open window; returns its counters. */
  def end(): Window = {
    val endNs = nowNs
    val fs = FsCalls.snapshot() - fs0
    sc.setLocalProperty(Phase, null)
    FsbenchBus.drain(sc)
    val w = this.synchronized {
      val (lo, hi) = (startNs / 1000000L, endNs / 1000000L)
      val jobMs = Tracer.unionMs(jobIntervals.toSeq.map { case (s, e) =>
        (math.max(s, lo), math.min(e, hi)) })
      jobIntervals.foreach { case (s, e) =>
        nextId += 1
        spans += Span(nextId, current, "spark", "job", s * 1000000L, e * 1000000L)
      }
      Window(kind, (endNs - startNs) / 1e6,
        if (plannedNs > 0) Some((plannedNs - startNs) / 1e6) else None,
        eagerJobs, jobs, stages, tasks, jobMs, cpuNs / 1e6, shuffleW, spill, records,
        analysisMs, optimizationMs, planningMs, catalogCalls, catalogNs / 1e6, fs, exchanges)
    }
    spans += Span(current, 0L, layer, kind, startNs, endNs, Map(
      "jobs" -> w.jobs, "eager_jobs" -> w.eagerJobs, "job_ms" -> w.jobMs,
      "plan_ms" -> w.planMs, "fs_list" -> fs.list, "fs_open" -> fs.open,
      "fs_create" -> fs.create, "fs_rename" -> fs.rename, "exchanges" -> w.exchanges))
    windows += w
    current = 0L
    w
  }

  /** Time `body` as one window of its own. */
  def window[T](layer: String, kind: String)(body: => T): (T, Window) = {
    begin(kind, layer)
    val out = try body finally end()
    (out, windows.last)
  }

  /** A catalog call, counted in the open window and recorded as its
    * child span. */
  def catalogCall[T](name: String)(body: => T): T = {
    val s = nowNs
    try body
    finally {
      val e = nowNs
      catalogCalls += 1
      catalogNs += e - s
      nextId += 1
      spans += Span(nextId, current, "catalog", name, s, e)
    }
  }

  /** One JSON line of run stamps, then one per span by start time. */
  def write(file: java.io.File, stamps: Map[String, Any]): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    out.println(Json.render(stamps))
    try spans.sortBy(_.startNs).foreach { s =>
      out.println(Json.render(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs))
    } finally out.close()
  }
}

object Tracer {
  /** Install the counting file system before the session's first
    * file-system handle exists. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)

  /** Shuffle exchanges in a physical plan, before adaptive execution
    * re-plans it: the count planning fixed, whatever the data. */
  def exchanges(plan: SparkPlan): Int = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                         => p
    }
    root.collectWithSubqueries { case e: ShuffleExchangeLike => e }.size
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(xs: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS, curE = Long.MinValue
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
