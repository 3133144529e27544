package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Accounting for calls into the program. Every call is attempted once;
  * a call that throws counts as failed and yields no time. */
final class Calls(tracer: Tracer) {
  private var attemptedN = 0L
  private var failedN = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Run one top-level call under span `name`: Some((result, seconds))
    * on success, None when it threw. */
  def apply[T](name: String)(body: => T): Option[(T, Double)] = {
    synchronized(attemptedN += 1)
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name)(body)
      Some(r -> (System.nanoTime() - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        // a nested call already counted this failure; the enclosing
        // call still fails, but the error is one error
        if (!Calls.counted(e)) fail(name, e)
        None
    }
  }

  /** A call made from inside another call (a stream handler). It counts
    * as an attempt of its own; a failure is counted here and rethrown
    * so the enclosing call fails too, without counting it twice. */
  def nested[T](name: String)(body: => T): T = {
    synchronized(attemptedN += 1)
    try tracer.span(name)(body)
    catch {
      case NonFatal(e) =>
        fail(name, e)
        throw new Calls.Counted(e)
    }
  }

  private def fail(name: String, e: Throwable): Unit = synchronized {
    failedN += 1
    errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
    System.err.println(s"[perfbench] call $name failed: $e")
  }
}

object Calls {
  final class Counted(cause: Throwable) extends RuntimeException(cause)

  def counted(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Counted])
}

/** What a workload gets to work with during one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val calls: Calls,
    val work: Path, val nproc: Int) {
  val problems = mutable.ArrayBuffer.empty[String]
  /** Whether the current iteration's times count: not a warm-up and
    * not traced. */
  @volatile var timed = false
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** A correctness check: a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      problems += what
      System.err.println(s"[perfbench] check failed: $what")
    }

  /** One sample of a workload-specific per-layer metric. */
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def sampled: Map[String, Seq[Double]] = samples.view.mapValues(_.toSeq).toMap

  /** Free what the last iteration left in the session: cached blocks
    * and cached plans (the sweep `graft.Bench.timeQuery` runs). */
  def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def dir(name: String): String = work.resolve(name).toString
}

/** One benchmark workload. `run` is the body of iteration `i` (calls
  * into the program only), timed by the caller; `after` is untimed:
  * checks, clean-up and preparing the next iteration's input. The first
  * [[warmups]] iterations run and are checked like any other, but are
  * not timed. */
trait Workload {
  def name: String
  /** The unit `units_per_s` counts. */
  def unit: String
  def prepare(ctx: Ctx, seed: Long): Unit
  def run(ctx: Ctx, i: Int): Boolean
  def after(ctx: Ctx, i: Int): Unit
  def warmups: Int = 0
  /** Final checks once the loop is over (untimed). */
  def finish(ctx: Ctx): Unit
  /** Headline end-to-end metrics, given the timed iteration walls. */
  def endToEnd(walls: Seq[Double]): EndToEnd
  /** The workload's own metrics under their full names, for the run
    * record: (name, value, unit). */
  def record(walls: Seq[Double]): Seq[(String, Any, String)]
}

final case class EndToEnd(unitsPerS: Double, outBytesPerInByte: Double)

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.toArray(n => new Array[Path](n)).foreach(deleteTree)
        finally s.close()
      }
      Files.delete(p)
    }

  /** Regular files under `p` (recursively), hidden ones included. */
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.toArray(n => new Array[Path](n)).toSeq.filter(Files.isRegularFile(_))
      finally s.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum
}
