package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A result check that did not hold. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a workload measured, in the terms of the end-to-end metrics:
  *  - `op`: latency samples (ms) of the workload's primary op;
  *  - `aux`: latency samples (ms) of its secondary op;
  *  - `fresh`: latency samples (ms) of reads issued right after a write;
  *  - `items` / `itemSeconds`: work items done and the wall time they took;
  *  - `diskBytes` / `diskItems`: bytes the workload's tables hold on disk
  *    and the items they hold. */
final case class Measured(op: Seq[Double], aux: Seq[Double], fresh: Seq[Double],
    items: Double, itemSeconds: Double, diskBytes: Long, diskItems: Long)

/** The closed-loop client's bookkeeping: op counting and failure
  * capture, set-up timing, heap sampling and per-layer extras. */
final class Harness(val spark: SparkSession, val seed: Long,
    val seconds: Int, val tracer: Tracer, val work: String) {

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  /** Per-layer figures a workload computes itself (ratios, counts). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var heapPeak = 0L

  private val born = System.nanoTime()
  /** Progress note on stderr, with seconds since the harness started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1fs $msg")

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Runs set-up `reps` times, each into a fresh directory, timing each
    * rep; returns the last rep's state. Set-up failures are not ops: they
    * abort the run. */
  def setup[T](reps: Int)(f: String => T): T = {
    var last: Option[T] = None
    (0 until reps).foreach { i =>
      val t0 = System.nanoTime()
      last = Some(tracer.op("setup")(f(s"$work/setup-$i")))
      setupSeconds += (System.nanoTime() - t0) / 1e9
      note(f"set-up ${i + 1} took ${setupSeconds.last}%.2fs")
    }
    last.get
  }

  /** One op: `body` is timed and traced as a root span; `check` runs
    * after the clock stops. An exception or a failed check counts the op
    * as failed. Returns the body's value and elapsed ms, or None when the
    * body threw. */
  def op[T](name: String)(body: => T)(check: T => Unit): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(tracer.op(name)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        fail(s"$name: $e")
        None
      case Right(v) =>
        try check(v)
        catch { case NonFatal(e) => fail(s"$name check: ${e.getMessage}") }
        Some((v, ms))
    }
  }

  /** A check that runs once, outside any op (end-of-run invariants). */
  def finalCheck(name: String)(f: => Unit): Unit = {
    attempted += 1
    try f catch { case NonFatal(e) => fail(s"$name: ${e.getMessage}") }
  }

  /** How many ops of `nominalMs` each fill `share` of `--seconds` (at
    * least one). The measured ops are a fixed schedule set by `--seconds`,
    * not by a clock: every run of a seed times the same ops, whereas a
    * window that ends on time would time fewer, earlier (less warmed-up)
    * ops in a slow run and so amplify the machine's drift. */
  def opsFor(nominalMs: Double, share: Double = 1.0): Int = {
    note("measuring")
    math.max(1, math.round(seconds * 1000.0 * share / nominalMs).toInt)
  }

  /** Tracing overhead, measured in a traced run after its measured ops: each
    * body (a read-only op) runs once traced and once untraced, the order
    * alternating between bodies. Records the traced median and the
    * median of the paired differences (ms). */
  def tracingCost(name: String, bodies: Seq[() => Unit]): Unit = {
    def timed(on: Boolean, f: () => Unit): Double = {
      tracer.active = on
      val t0 = System.nanoTime()
      try tracer.op(s"overhead:$name")(f()) finally tracer.active = true
      (System.nanoTime() - t0) / 1e6
    }
    val pairs = bodies.zipWithIndex.map { case (f, i) =>
      if (i % 2 == 0) { val on = timed(on = true, f); (on, timed(on = false, f)) }
      else { val off = timed(on = false, f); (timed(on = true, f), off) }
    }
    if (pairs.nonEmpty) {
      layer("trace.op_p50_ms") = Stats.median(pairs.map(_._1))
      layer("trace.overhead_ms") = Stats.median(pairs.map { case (on, off) => on - off })
    }
  }

  /** Full GC, then heap in use: the live heap at this point. The second
    * collection picks up what Spark's cleaner released after the first. */
  def heapCheckpoint(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeak = math.max(heapPeak, used)
  }

  def heapPeakMb: Double = heapPeak / (1024.0 * 1024.0)
}

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  def same[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

object Disk {
  /** Bytes of all regular files under `dir` (0 when absent). */
  def bytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
