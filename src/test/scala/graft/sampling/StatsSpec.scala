package graft.sampling

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Golden-value tests of the statistical primitives against hand-computed
  * results of the reference formulas (RandomSamplingUtil.java:331-382), plus
  * property tests of the estimator's shape.
  */
class StatsSpec extends AnyFunSuite {

  /** Minimal deterministic forAll (scalatestplus isn't on the offline
    * classpath; scalacheck core is).
    */
  private def forAll[A](gen: Gen[A], n: Int = 200)(check: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(check)
      seed = seed.next
    }
  }
  private val Eps = 1e-12

  test("z-table matches the reference piecewise lookup, incl. boundaries") {
    assert(Stats.zScore(0.0) == 0.0)
    assert(Stats.zScore(0.05) == 0.0627)
    assert(Stats.zScore(0.50) == 0.67)
    assert(Stats.zScore(0.90) == 1.645)
    assert(Stats.zScore(0.95) == 1.96)
    assert(Stats.zScore(0.98) == 2.33)
    assert(Stats.zScore(0.99) == 2.575)
    assert(Stats.zScore(0.995) == 2.81)
    assert(Stats.zScore(0.999) == 3.09)
    assert(Stats.zScore(0.9999) == 5.0)
    // <= bucket semantics: 0.91 falls into the 0.95 bucket, not 0.90
    assert(Stats.zScore(0.91) == 1.96)
    assert(Stats.zScore(0.001) == 0.0627)
  }

  test("Cochran sample ratio golden values") {
    assert(math.abs(Stats.sampleRatio(0.95, 0.02, 10) - 0.9958523434259644) < Eps)
    assert(math.abs(Stats.sampleRatio(0.95, 0.01, 1e6) - 0.009512640599680667) < Eps)
    assert(math.abs(Stats.sampleRatio(0.99, 0.02, 1e3) - 0.8056040701647809) < Eps)
  }

  test("achieved error bound golden values") {
    assert(math.abs(Stats.errorBound(0.95, 1000, 100) - 0.09301748358374491) < Eps)
    assert(math.abs(Stats.errorBound(0.95, 60000, 6000) - 0.012002599761719013) < Eps)
  }

  test("error bound shrinks as the sample grows; zero at full census") {
    val sizes = Seq(10L, 100L, 1000L, 9999L)
    val bounds = sizes.map(n => Stats.errorBound(0.95, 10000L, n))
    assert(bounds == bounds.sorted.reverse)
    assert(Stats.errorBound(0.95, 10000L, 10000L) == 0.0)
  }

  test("properties: ratio in (0,1]; error bound non-negative") {
    val gen = for {
      conf <- Gen.choose(0.01, 0.999)
      err <- Gen.choose(1e-4, 0.5)
      n <- Gen.choose(10.0, 1e9)
    } yield (conf, err, n)
    forAll(gen) { case (conf, err, n) =>
      val r = Stats.sampleRatio(conf, err, n)
      assert(r > 0.0 && r <= 1.0)
    }
    forAll(Gen.choose(100L, 1000000L)) { total =>
      val sampled = math.max(1L, total / 10)
      assert(Stats.errorBound(0.95, total, sampled) >= 0.0)
    }
  }

  test("SamplingConfig resolution follows the reference's T5 order") {
    // explicit valid ratio wins
    assert(SamplingConfig(ratio = 0.25).resolvedRatio == 0.25)
    // invalid ratio + invalid bounds -> default 0.1
    assert(SamplingConfig(ratio = -1, errorBound = 2.0).resolvedRatio == 0.1)
    assert(SamplingConfig(ratio = 0, confidence = -0.5).resolvedRatio == 0.1)
    // invalid ratio + valid bounds -> Cochran
    val derived = SamplingConfig(ratio = -1, errorBound = 0.02, confidence = 0.95, inputBits = 1)
    assert(math.abs(derived.resolvedRatio - 0.9958523434259644) < Eps)
    // CLI-format parsing (RandomSamplingUtil.java:129-143)
    assert(SamplingConfig.parse("0.5").resolvedRatio == 0.5)
    val p = SamplingConfig.parse("0.95,0.01,6")
    assert(math.abs(p.resolvedRatio - 0.009512640599680667) < Eps)
  }

  test("SamplingConfig.parse rejects a malformed CLI argument, naming both accepted forms") {
    // 2 fields used to index past the array; 4 silently dropped the last
    for (arg <- Seq("0.95,0.02", "0.95,0.02,6,9", "half", "0.95,x,6", "0.95,0.02,6.5", "")) {
      val e = intercept[IllegalArgumentException](SamplingConfig.parse(arg))
      assert(e.getMessage.contains("ratio or confidence,errorBound,inputBits"), arg)
    }
  }
}
