package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Tpe
import graft.ml.Tpe.{IntDim, LogUniformDim, Trial, UniformDim}

/** SURVEY §2.8 M6 (adaptive) — the TPE sampler itself, driver-side pure
  * math: no SparkSession. Distribution-level behavior (beats the prior
  * at equal budget, concentrates near the optimum) plus the exact
  * contracts (determinism, bounds, integrality).
  */
class TpeSpec extends AnyFunSuite {

  private val bowl2d: Map[String, Double] => Double =
    ps => math.pow(ps("x") - 0.7, 2) + 10 * math.pow(ps("y") + 0.3, 2)

  private val space2d = Seq(UniformDim("x", -1, 1), UniformDim("y", -1, 1))

  test("M6 TPE beats pure prior sampling at equal budget on a smooth bowl") {
    var wins = 0
    var tpeBests = List.empty[Double]
    (1 to 5).foreach { seed =>
      val tpe = Tpe.minimize(space2d, bowl2d, maxTrials = 40, nStartup = 8,
        seed = seed.toLong).map(_.loss).min
      // same budget, pure prior draws: nStartup = maxTrials disables the
      // adaptive phase, so this IS random search under the same RNG
      val rand = Tpe.minimize(space2d, bowl2d, maxTrials = 40, nStartup = 40,
        seed = seed.toLong).map(_.loss).min
      if (tpe <= rand) wins += 1
      tpeBests ::= tpe
    }
    assert(wins >= 4, s"TPE beat random on only $wins/5 seeds")
    // concentration: the adaptive phase lands near (0.7, -0.3) every time
    assert(tpeBests.forall(_ < 0.15), s"best losses too high: $tpeBests")
  }

  test("M6 TPE is deterministic: same seed, same trial sequence") {
    val a = Tpe.minimize(space2d, bowl2d, maxTrials = 25, seed = 99L)
    val b = Tpe.minimize(space2d, bowl2d, maxTrials = 25, seed = 99L)
    assert(a === b)
    val c = Tpe.minimize(space2d, bowl2d, maxTrials = 25, seed = 100L)
    assert(a !== c, "different seeds should explore differently")
  }

  test("M6 parallel startup returns the sequential path's trial vector") {
    // startup draws consume only the RNG, so evaluating them as
    // overlapping jobs must not change a single trial — including when
    // the budget ends inside the startup phase
    for ((trials, startup) <- Seq((20, 8), (5, 8), (12, 1))) {
      val sequential = Tpe.minimize(space2d, bowl2d, maxTrials = trials,
        nStartup = startup, seed = 11L)
      val parallel = Tpe.minimize(space2d, bowl2d, maxTrials = trials,
        nStartup = startup, seed = 11L, parallelStartup = true)
      assert(parallel === sequential, s"maxTrials=$trials nStartup=$startup")
    }
  }

  test("M6 every proposal respects its box; int dims stay integral") {
    val space = Seq(UniformDim("u", -2, 3), IntDim("i", 2, 9),
      LogUniformDim("g", 1e-4, 10.0))
    val obj: Map[String, Double] => Double =
      ps => math.abs(ps("u")) + math.abs(ps("i") - 4) + math.abs(math.log(ps("g")))
    val trials = Tpe.minimize(space, obj, maxTrials = 30, nStartup = 6, seed = 5L)
    assert(trials.length === 30)
    trials.foreach { t =>
      assert(t.params("u") >= -2 && t.params("u") <= 3, t.params)
      assert(t.params("i") >= 2 && t.params("i") <= 9, t.params)
      assert(t.params("i") === math.rint(t.params("i")), s"non-integral: ${t.params}")
      assert(t.params("g") >= 1e-4 && t.params("g") <= 10.0, t.params)
    }
  }

  test("M6 log-uniform dim finds an optimum spanning decades") {
    // optimum at g = 1e-2: invisible to a linear-scale sampler at this
    // budget (the whole [1e-4, 1e-1] region is 1% of the linear box)
    val space = Seq(LogUniformDim("g", 1e-4, 10.0))
    val obj: Map[String, Double] => Double =
      ps => math.pow(math.log10(ps("g")) + 2, 2)
    val best = Tpe.minimize(space, obj, maxTrials = 40, nStartup = 8, seed = 3L)
      .minBy(_.loss)
    assert(best.loss < 0.25,
      s"expected ~1e-2, got g=${best.params("g")} loss=${best.loss}")
  }

  test("M6 suggest concentrates proposals toward the good quantile") {
    val rnd = new scala.util.Random(17L)
    // seed trials: loss = distance from x = 0.8
    val seedTrials = (0 until 20).map { i =>
      val x = -1.0 + 2.0 * i / 19.0
      Trial(Map("x" -> x), math.abs(x - 0.8))
    }
    val props = (1 to 30).map(_ =>
      Tpe.suggest(Seq(UniformDim("x", -1, 1)), seedTrials, rnd)("x"))
    val nearGood = props.count(x => math.abs(x - 0.8) < 0.45)
    assert(nearGood >= 20,
      s"only $nearGood/30 proposals near the good region: $props")
  }
}
