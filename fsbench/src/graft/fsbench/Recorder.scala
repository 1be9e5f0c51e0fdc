package graft.fsbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Times, counts and checks every operation of a run. With a tracer,
  * each operation also becomes a span with the per-layer counters
  * gathered around it. */
final class Recorder(val tracer: Option[Tracer] = None) {
  val millis: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  /** Rows (or values) the operations returned to the client. */
  var rowsOut = 0L

  def returned(n: Long): Unit = rowsOut += n

  /** Run `body` as one operation of `kind`: a thrown exception or a
    * false `check` counts it as failed. Its time is recorded divided by
    * `perUnit`, for operations that serve several units at once. */
  def op[T](kind: String, perUnit: Int = 1)(body: => T)(check: T => Boolean): Unit = {
    attempted += 1
    tracer.foreach(_.begin(kind))
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6 / perUnit
    tracer.foreach(_.end())
    millis.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    val ok = result match {
      case Right(v) =>
        try check(v)
        catch { case e: Exception => Console.err.println(s"[fsbench] $kind check threw: $e"); false }
      case Left(e) =>
        Console.err.println(s"[fsbench] $kind failed: $e")
        e.printStackTrace()
        false
    }
    if (!ok) failed += 1
  }

  /** The facade has returned its lazy frame: marks the end of the api
    * layer's planning inside the current operation. */
  def planned(df: DataFrame): Unit = tracer.foreach(_.planned(df))
}
