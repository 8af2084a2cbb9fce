package graft.sampling

/** Immutable sampling configuration with the reference's parameter-resolution
  * semantics (reference: RandomSamplingUtil.java:54-57 defaults, :73-78
  * resolution, :129-143 arg parsing) — minus the mutable singleton and the
  * ZooKeeper plumbing, which Spark's driver makes unnecessary.
  *
  * Resolution order (RandomSamplingUtil.java:73-78):
  *   1. `ratio` in (0, 1]            → use it;
  *   2. invalid error/confidence     → fall back to default ratio 0.1;
  *   3. otherwise                    → Cochran ratio from
  *                                     (confidence, errorBound, 10^inputBits).
  */
final case class SamplingConfig(
    ratio: Double = SamplingConfig.DefaultRatio,
    errorBound: Double = SamplingConfig.DefaultErrorBound,
    confidence: Double = SamplingConfig.DefaultConfidence,
    inputBits: Int = SamplingConfig.DefaultInputBits,
    seed: Long = SamplingConfig.DefaultSeed) {

  /** Effective sampling probability after reference-faithful resolution. */
  def resolvedRatio: Double =
    if (ratio > 0 && ratio <= 1) ratio
    else if (errorBound < 0 || errorBound > 1 || confidence < 0 || confidence > 1)
      SamplingConfig.DefaultRatio
    else Stats.sampleRatio(confidence, errorBound, math.pow(10, inputBits))
}

object SamplingConfig {
  // Defaults per RandomSamplingUtil.java:54-57.
  val DefaultRatio: Double = 0.1
  val DefaultErrorBound: Double = 0.02
  val DefaultConfidence: Double = 0.95
  val DefaultInputBits: Int = 1
  // The reference samples with an unseeded java.util.Random
  // (RandomizedLineRecordReader.java:50) — non-reproducible by design.
  // We fix that: a default seed makes every sampled run deterministic.
  val DefaultSeed: Long = 42L

  /** Exact (identity) sampling — ratio 1.0 degenerates to a no-op filter. */
  val Exact: SamplingConfig = SamplingConfig(ratio = 1.0)

  /** Parse the reference CLI argument format: `ratio` or
    * `confidence,errorBound,inputBits` (RandomSamplingUtil.java:129-143).
    * Any other field count, or a non-numeric field, throws an
    * [[IllegalArgumentException]] naming both accepted forms.
    */
  def parse(arg: String, seed: Long = DefaultSeed): SamplingConfig = {
    def bad = new IllegalArgumentException(
      s"malformed sampling argument '$arg': expected ratio or confidence,errorBound,inputBits")
    def num[T](field: String, read: String => T): T =
      try read(field.trim) catch { case _: NumberFormatException => throw bad }
    arg.split(",", -1) match {
      case Array(r) => SamplingConfig(ratio = num(r, _.toDouble), seed = seed)
      case Array(c, e, b) =>
        SamplingConfig(
          ratio = -1,
          confidence = num(c, _.toDouble),
          errorBound = num(e, _.toDouble),
          inputBits = num(b, _.toInt),
          seed = seed)
      case _ => throw bad
    }
  }
}
