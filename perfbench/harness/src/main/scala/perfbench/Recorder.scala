package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** One timed segment of a pass: an operation (`op`), its query
  * construction (`build`) or its materialisation (`action`). Wall-clock
  * milliseconds align the span with Spark's listener timestamps; `seconds`
  * is the monotonic duration.
  */
final case class Span(pass: Int, op: String, kind: String, startMs: Long,
    endMs: Long, seconds: Double)

/** Records spans from the harness's own code, around each call into the
  * program. Every pass runs whole operations, so each pass attempts the same
  * set of operations.
  */
final class Recorder {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  var pass: Int = 0
  var attempted: Long = 0
  var failed: Long = 0
  val errors: ArrayBuffer[String] = ArrayBuffer.empty

  def span[T](op: String, kind: String)(f: => T): T = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val s = Span(pass, op, kind, ms0, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9)
      spans += s
      if (kind == "op") System.err.println(
        f"[perfbench] pass $pass%d $op%s ${s.seconds}%.3f s")
    }
  }

  /** Runs one operation and counts it; a thrown error fails it. */
  def attempt(op: String)(f: => Unit): Unit = {
    attempted += 1
    try span(op, "op")(f)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$op: ${e.getClass.getName}: ${e.getMessage}".take(400)
    }
  }

  /** A lazy query: construction, then every output column written to the
    * `noop` sink (`count()` would let Catalyst prune columns and sorts).
    */
  def query(op: String)(build: => DataFrame): Unit = attempt(op) {
    val df = span(op, "build")(build)
    span(op, "action")(Recorder.materialise(df))
  }
}

object Recorder {
  def materialise(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
