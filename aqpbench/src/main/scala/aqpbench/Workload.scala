package aqpbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Run-wide settings and the recorders every workload shares. */
final class Ctx(
    val work: String,       // per-run directory (sink outputs)
    val data: String,       // input directory
    val out: String,        // artifact directory (trace file, curve)
    val seed: Long,
    val tiny: Boolean,      // test-sized inputs
    val corrupt: Boolean,   // perturb one expected answer (proves the checks are live)
    val tracer: Tracer) {
  var spark: SparkSession = _
  def t[T](module: String, name: String)(body: => T): T = tracer(module, name)(body)
  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[aqpbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
}

/** Outcome of one execution of a phase's query set: engine time (checks
  * excluded) and how many of its operations passed their output check.
  */
final class PhaseRun(ctx: Ctx) {
  var ns = 0L
  var attempted = 0
  var failed = 0

  /** One operation: `call` is timed; `check` judges its result untimed. A
    * throw in either, or a false check, counts the operation as failed.
    */
  def op[T](label: String)(call: => T)(check: T => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(call) catch { case e: Throwable => Left(e) }
    val dt = System.nanoTime() - t0
    ns += dt
    ctx.log(f"op $label: ${dt / 1e9}%.3fs")
    val ok = r match {
      case Right(v) =>
        try check(v) catch { case e: Throwable => ctx.log(s"$label: check threw $e"); false }
      case Left(e) => ctx.log(s"$label: threw $e"); false
    }
    if (!ok) { failed += 1; ctx.log(s"$label: FAILED output check") }
  }
}

/** The four phases every workload runs: its exact query set and the same
  * set under row-level Bernoulli, universe (hash-range) and file-level
  * sampling at 10 %.
  */
object Phases {
  val All: Seq[String] = Seq("exact", "bernoulli", "universe", "filesample")
}

/** A layer split of one phase, by nested noop-sink runs: each level adds
  * one layer on top of the previous one, and a layer's time is the
  * difference between its level and the one below. Whole-stage codegen
  * fuses the levels into one loop, so the split is approximate.
  */
final case class Level(layer: String, df: () => DataFrame)

trait Workload {
  def name: String

  /** Generate the seeded inputs and compute their expected answers. */
  def generate(): Unit

  /** Register and list the inputs in a fresh session (part of setup_s). */
  def register(spark: SparkSession): Unit

  /** The first exact operation of the process (cold_exact_s). */
  def cold(run: PhaseRun): Unit

  def phase(name: String, pass: Int, run: PhaseRun): Unit

  /** The source the Bernoulli phase samples (its report's population). */
  def source: DataFrame

  /** Untimed passes over the four phases before the timed section. */
  def warmupPasses: Int

  /** One-time checks outside the timed section. */
  def selfCheck(run: PhaseRun): Unit

  /** Σ|exact − HT estimate| / Σ exact at Bernoulli p = 0.1. */
  def dataError(): Double

  def inputRows: Long
  def inputBytes: Long

  /** Nested noop-sink levels per phase, for the traced layer split: the
    * scan of the phase's main input, then the keep for sampled phases or
    * the per-row work (tokenize, parse, signatures) for the exact phase,
    * then the query.
    */
  def levels(phase: String): Seq[Level]

  /** Extra traced records written to the artifact (JSON fields). */
  def traced(run: PhaseRun): Seq[(String, String)] = Nil
}

object Check {
  /** Rows -> stable fingerprint (order-free, full precision). */
  def fingerprint(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => { md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) })
    md.digest().map("%02x".format(_)).mkString
  }

  def counts(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.get(0).toString -> r.getAs[Number](1).longValue).toMap

  /** `expected` with one value changed — what `--corrupt-expected` checks against. */
  def corrupt(m: Map[String, Long]): Map[String, Long] =
    if (m.isEmpty) Map("\u0000corrupt" -> 1L) else { val (k, v) = m.minBy(_._1); m.updated(k, v + 1) }

  /** Every later execution of `key` must reproduce the first one's fingerprint. */
  final class Stable {
    private val first = mutable.Map.empty[String, String]
    def apply(key: String, fp: String): Boolean = first.getOrElseUpdate(key, fp) == fp
  }
}
