package graft.model

import org.scalatest.funsuite.AnyFunSuite

class MlpSpec extends AnyFunSuite {

  test("init is seed-deterministic and bounded by 1/sqrt(fan_in)") {
    val a = Mlp.init(7)
    val b = Mlp.init(7)
    assert(a.flatten.sameElements(b.flatten))
    assert(!Mlp.init(8).flatten.sameElements(a.flatten))
    val k0 = 1.0 / math.sqrt(Mlp.dims(0).toDouble)
    assert(a.w(0).flatten.forall(x => x >= -k0 && x <= k0))
  }

  test("flatten/unflatten round-trips") {
    val w = Mlp.init(3)
    assert(Mlp.unflatten(w.flatten).flatten.sameElements(w.flatten))
  }

  test("forward matches a hand-computed tiny net") {
    // 2 -> 2 (ReLU) -> 1:  h = relu(W1 x + b1), y = W2 h + b2
    val w = Mlp.Weights(
      Vector(Array(Array(1.0, -1.0), Array(0.5, 0.5)), Array(Array(2.0, -3.0))),
      Vector(Array(0.0, -1.0), Array(0.25)))
    val y = Mlp.forward(w, Array(3f, 1f))
    // h1 = relu(3-1+0)=2 ; h2 = relu(1.5+0.5-1)=1 ; y = 2*2 - 3*1 + 0.25 = 1.25
    assert(math.abs(y(0) - 1.25f) < 1e-6)
    // negative pre-activation is clamped
    val y2 = Mlp.forward(w, Array(-3f, -1f))
    // h1 = relu(-3+1)=0 ; h2 = relu(-1.5-0.5-1)=0 ; y = 0.25
    assert(math.abs(y2(0) - 0.25f) < 1e-6)
  }

  test("fedAvg is the sample-weighted mean (similarity_search.py:476-493)") {
    def const(v: Double) = Mlp.Weights(
      Vector(Array(Array(v, v))), Vector(Array(v)))
    val avg = Mlp.fedAvg(Seq((const(1.0), 100L), (const(4.0), 300L)))
    // (1*100 + 4*300)/400 = 3.25
    assert(avg.flatten.forall(x => math.abs(x - 3.25) < 1e-12))
  }

  test("localFit reduces the Gram-reconstruction loss (M2 behavioral parity)") {
    val rng = new scala.util.Random(1)
    val x = Array.fill(64)(Array.fill(4)(rng.nextGaussian()))
    val start = Mlp.Weights(
      Vector(
        Array.fill(8, 4)((rng.nextDouble() * 2 - 1) * 0.5),
        Array.fill(3, 8)((rng.nextDouble() * 2 - 1) * 0.35)),
      Vector(Array.fill(8)(0.0), Array.fill(3)(0.0)))
    val (_, losses) = Mlp.localFit(start, x, epochs = 30, batchSize = 32, lr = 1e-2)
    assert(losses.nonEmpty)
    assert(losses.last < losses.head,
      s"loss did not decrease: ${losses.head} -> ${losses.last}")
  }

  test("backprop direction agrees with the numerical gradient") {
    // one Adam step ≈ -lr·sign(g) (bias-corrected first moment at t=1),
    // so each weight must move OPPOSITE the numerical gradient's sign
    val rng = new scala.util.Random(5)
    val x = Array.fill(8)(Array.fill(4)(rng.nextGaussian()))
    val start = Mlp.Weights(
      Vector(
        Array.fill(6, 4)((rng.nextDouble() * 2 - 1) * 0.5),
        Array.fill(2, 6)((rng.nextDouble() * 2 - 1) * 0.4)),
      Vector(Array.fill(6)(0.1), Array.fill(2)(-0.1)))
    val (after, _) = Mlp.localFit(start, x, epochs = 1, batchSize = 8, lr = 1e-4)
    val flatBefore = start.flatten
    val flatAfter = after.flatten

    val eps = 1e-3
    var checked = 0
    var agree = 0
    (0 until flatBefore.length by 3).foreach { i =>
      val plus = flatBefore.clone(); plus(i) += eps
      val minus = flatBefore.clone(); minus(i) -= eps
      val numG = (Mlp.trainingLossOf(Mlp.unflatten(plus, start), x) -
        Mlp.trainingLossOf(Mlp.unflatten(minus, start), x)) / (2 * eps)
      if (math.abs(numG) > 1e-3) {
        checked += 1
        val step = flatAfter(i) - flatBefore(i)
        if (math.signum(step) == -math.signum(numG)) agree += 1
      }
    }
    assert(checked > 10, s"too few significant coordinates ($checked)")
    assert(agree.toDouble / checked >= 0.9,
      s"gradient sign agreement ${agree.toDouble / checked} ($agree/$checked)")
  }

  test("localFit on empty shard is a no-op") {
    val w = Mlp.init(1)
    val (out, losses) = Mlp.localFit(w, Array.empty, epochs = 2)
    assert(out.flatten.sameElements(w.flatten) && losses.isEmpty)
  }

  private def smallBnNet(rng: scala.util.Random): Mlp.Weights = Mlp.Weights(
    Vector(
      Array.fill(6, 4)((rng.nextDouble() * 2 - 1) * 0.5),
      Array.fill(2, 6)((rng.nextDouble() * 2 - 1) * 0.4)),
    Vector(Array.fill(6)(0.1), Array.fill(2)(-0.1)),
    Some(Mlp.Bn(
      Vector(Array.fill(6)(1.0)), Vector(Array.fill(6)(0.0)),
      Vector(Array.fill(6)(0.0)), Vector(Array.fill(6)(1.0)))))

  test("standard net carries the reference stack: BN state ships through " +
    "flatten/unflatten and fedAvg averages it") {
    val w = Mlp.init(7)
    assert(w.bn.isDefined, "reference architecture has BatchNorm1d")
    val rt = Mlp.unflatten(w.flatten)
    assert(rt.flatten.sameElements(w.flatten))
    assert(rt.bn.get.gamma(0).forall(_ == 1.0))
    // fedAvg over BN state: running means 0 and 4 at weights 1:3 → 3
    val a = Mlp.init(7)
    val b = Mlp.init(7)
    b.bn.get.runMean(0).indices.foreach(i => b.bn.get.runMean(0)(i) = 4.0)
    val avg = Mlp.fedAvg(Seq((a, 100L), (b, 300L)))
    assert(avg.bn.get.runMean(0).forall(v => math.abs(v - 3.0) < 1e-12))
  }

  test("train-mode BN uses batch statistics and updates running stats; " +
    "eval forward uses the running stats") {
    val rng = new scala.util.Random(11)
    val w = smallBnNet(rng)
    val x = Array.fill(16)(Array.fill(4)(rng.nextGaussian() * 2 + 1))
    val (after, losses) = Mlp.localFit(w, x, epochs = 3, batchSize = 16,
      lr = 1e-3, dropout = 0.0)
    assert(losses.forall(l => !l.isNaN && !l.isInfinite))
    // running stats moved off their (0, 1) init toward the batch stats
    assert(after.bn.get.runMean(0).exists(v => math.abs(v) > 1e-6))
    assert(after.bn.get.runVar(0).exists(v => math.abs(v - 1.0) > 1e-6))
    // eval forward consumes them without blowing up
    val y = Mlp.forward(after, Array(1f, 0f, -1f, 2f))
    assert(y.forall(v => !v.isNaN))
  }

  test("dropout masks fire at p=0.2 (seeded) and are identity at p=0") {
    val rng = new scala.util.Random(13)
    val w = smallBnNet(rng)
    val x = Array.fill(32)(Array.fill(4)(rng.nextGaussian()))
    // same seed twice ⇒ identical training trajectory
    val (a1, _) = Mlp.localFit(w, x, epochs = 2, batchSize = 32, dropoutSeed = 99L)
    val (a2, _) = Mlp.localFit(w, x, epochs = 2, batchSize = 32, dropoutSeed = 99L)
    assert(a1.flatten.sameElements(a2.flatten))
    // different dropout seed ⇒ different trajectory (masks really apply)
    val (a3, _) = Mlp.localFit(w, x, epochs = 2, batchSize = 32, dropoutSeed = 7L)
    assert(!a3.flatten.sameElements(a1.flatten))
    // p=0 ⇒ dropout seed is irrelevant
    val (b1, _) = Mlp.localFit(w, x, epochs = 2, batchSize = 32,
      dropout = 0.0, dropoutSeed = 99L)
    val (b2, _) = Mlp.localFit(w, x, epochs = 2, batchSize = 32,
      dropout = 0.0, dropoutSeed = 7L)
    assert(b1.flatten.sameElements(b2.flatten))
  }

  test("backprop through the BN stack agrees with the numerical gradient " +
    "of the train-mode loss") {
    val rng = new scala.util.Random(17)
    val w = smallBnNet(rng)
    val x = Array.fill(8)(Array.fill(4)(rng.nextGaussian()))
    val (after, _) = Mlp.localFit(w, x, epochs = 1, batchSize = 8,
      lr = 1e-4, dropout = 0.0)
    val flatBefore = w.flatten
    val flatAfter = after.flatten

    val eps = 1e-4
    var checked = 0
    var agree = 0
    (0 until flatBefore.length by 2).foreach { i =>
      val plus = flatBefore.clone(); plus(i) += eps
      val minus = flatBefore.clone(); minus(i) -= eps
      val numG = (Mlp.trainingLossOf(Mlp.unflatten(plus, w), x) -
        Mlp.trainingLossOf(Mlp.unflatten(minus, w), x)) / (2 * eps)
      if (math.abs(numG) > 1e-3) {
        checked += 1
        val step = flatAfter(i) - flatBefore(i)
        if (math.signum(step) == -math.signum(numG)) agree += 1
      }
    }
    assert(checked > 10, s"too few significant coordinates ($checked)")
    assert(agree.toDouble / checked >= 0.9,
      s"gradient sign agreement ${agree.toDouble / checked} ($agree/$checked)")
  }

  test("localFit with the full reference stack reduces the loss") {
    val rng = new scala.util.Random(19)
    val x = Array.fill(96)(Array.fill(4)(rng.nextGaussian()))
    val start = smallBnNet(rng)
    val (_, losses) = Mlp.localFit(start, x, epochs = 40, batchSize = 32, lr = 1e-2)
    assert(losses.last < losses.head,
      s"loss did not decrease: ${losses.head} -> ${losses.last}")
  }
}
