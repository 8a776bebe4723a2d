package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the clock, the op and check accounting,
  * the latency samples and the tracer.
  *
  * In a traced run (`traceRun`), client calls alternate between the fused
  * untraced form (even calls) and the traced, layer-materializing form (odd
  * calls), so the tracing overhead is measured on interleaved calls against
  * the same store state.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: Path, val traceRun: Boolean, val tiny: Boolean) {
  val tracer = new Tracer(traceRun, Some(spark.sparkContext))
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Wall seconds per op kind, untraced calls only. */
  val untraced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall seconds per op kind, traced calls only. */
  val traced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer figures a workload records directly (not from spans). */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val callsByKind = mutable.Map.empty[String, Long]
  private var deadlineNs = Long.MaxValue

  private val bornNs = System.nanoTime()

  /** Progress on stderr, with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - bornNs) / 1e9}%.1fs $msg")

  def startClock(): Unit = {
    log("measuring")
    deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
  }
  /** Whether to start iteration `done + 1`: until time is up, and at least
    * `min` iterations in any case.
    */
  def more(done: Long, min: Long = 1): Boolean = done < min || System.nanoTime() < deadlineNs

  /** A size: the full one, or the tiny one of the self-test. */
  def size(full: Int, tinySize: Int): Int = if (tiny) tinySize else full

  /** Whether the next client call of `kind` runs traced: every second one
    * in a traced run.
    */
  def nextTraced(kind: String): Boolean = {
    val n = callsByKind.getOrElse(kind, 0L) + 1
    callsByKind(kind) = n
    traceRun && n % 2 == 0
  }

  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One client call: timed, counted as attempted, failed if it throws or
    * `check` rejects its result. Returns the result when it succeeded.
    */
  def call[T](kind: String, tracedCall: Boolean)(body: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try Right(if (tracedCall) tracer.op(kind)(body) else body)
      catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    out match {
      case Left(e) =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      case Right(v) =>
        (if (tracedCall) traced else untraced)
          .getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
        val ok = try check(v) catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $kind check threw: $e"); false }
        if (!ok) { fail(s"$kind output check failed"); None } else Some(v)
    }
  }

  /** A run-level output check, counted as one attempted op. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] check $name threw: $e"); false }
    if (!passed) fail(s"check $name failed")
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
    System.err.println(s"[perfbench] $msg")
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Fs.delete(p)
    p
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** NaN when there are no samples, which marks the run incorrect. */
  def quantileOrNaN(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else quantile(xs, q)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toVector }
      finally s.close()
    }

  /** Bytes of every file under `p`, checksums and markers included. */
  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def parquetFiles(p: Path): Seq[Path] =
    files(p).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Replace `dst` with `src` (a sibling directory). */
  def swap(src: Path, dst: Path): Unit = {
    delete(dst)
    Files.move(src, dst)
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
