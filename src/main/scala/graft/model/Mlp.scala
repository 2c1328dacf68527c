package graft.model

import scala.util.Random

/** The patient-embedding MLP (similarity_search.py:22-47): per hidden
  * layer the reference stacks Linear → ReLU → Dropout(0.2) →
  * BatchNorm1d (in that order, similarity_search.py:33-38), then a final
  * Linear to the 128-dim embedding. 20 → 256 → 128 → 128.
  *
  * Training-mode parity: dropout masks (inverted, p = 0.2, seeded — the
  * torch reference is unseeded there) and batch-statistics BatchNorm
  * with running-stat tracking (momentum 0.1, eps 1e-5, torch defaults)
  * are applied in [[localFit]]; at inference dropout is identity and BN
  * uses the running stats, exactly torch `eval()` semantics. Plain
  * Linear+ReLU nets (`bn = None`) remain supported for the hand-checked
  * spec nets.
  *
  * Where each step lives (each is written once):
  *  - `layer`: one Linear (+ ReLU on hidden layers) of one row; the eval
  *    [[forward]] and the train-mode `trainForward` both call it;
  *  - `trainForward`: the train-mode stack (dropout, batch-statistics BN
  *    in `batchNorm`), keeping what backprop needs; [[localFit]] and
  *    [[trainingLossOf]] call it;
  *  - `gramLoss`: the Gram-reconstruction loss and D = E·Eᵀ − X·Xᵀ;
  *  - `Adam.step`: the one Adam update, for W, b, γ and β;
  *  - [[Weights.mapParts]]: the `flatten` order, which [[unflatten]],
  *    deep copies and the Adam moments reuse; [[fedAvgFlat]] averages
  *    flat vectors element-wise.
  *
  * All math is plain double arrays with while-loops — this runs inside
  * executor tasks (one local model per shard), so no Spark types here.
  */
object Mlp {

  val dims: Vector[Int] = Vector(20, 256, 128, 128)
  val dropoutP: Double = 0.2
  val bnEps: Double = 1e-5
  val bnMomentum: Double = 0.1

  /** BatchNorm1d state for the hidden layers: learned scale/shift and
    * tracked running statistics (all shipped through FedAvg, as a
    * state_dict-shipping FL client does).
    */
  final case class Bn(gamma: Vector[Array[Double]], beta: Vector[Array[Double]],
                      runMean: Vector[Array[Double]], runVar: Vector[Array[Double]])

  /** Dense weights: per layer, W is (out × in) row-major, b is (out);
    * `bn` carries the hidden layers' BatchNorm state (None = plain
    * Linear+ReLU net, used by the tiny spec nets).
    */
  final case class Weights(w: Vector[Array[Array[Double]]], b: Vector[Array[Double]],
                           bn: Option[Bn] = None) {
    def nLayers: Int = w.length

    /** The same structure with every parameter array `a` replaced by
      * `f(a)`, `f` applied in `flatten` order: per layer W's rows then b,
      * then per hidden layer γ, β, running mean, running var.
      */
    def mapParts(f: Array[Double] => Array[Double]): Weights = {
      val linear = w.indices.map(l => (w(l).map(f), f(b(l))))
      val norm = bn.map { s =>
        val per = s.gamma.indices.map(l =>
          Vector(f(s.gamma(l)), f(s.beta(l)), f(s.runMean(l)), f(s.runVar(l))))
        Bn(per.map(_(0)).toVector, per.map(_(1)).toVector,
          per.map(_(2)).toVector, per.map(_(3)).toVector)
      }
      Weights(linear.map(_._1).toVector, linear.map(_._2).toVector, norm)
    }

    def flatten: Array[Double] = {
      val out = Array.newBuilder[Double]
      mapParts { a => out ++= a; a }
      out.result()
    }
  }

  private lazy val standard: Weights = init()

  /** Inverse of `flatten`: weights of `shape`'s structure (the standard
    * net by default) read from `flat`.
    */
  def unflatten(flat: Array[Double], shape: Weights = standard): Weights = {
    var off = 0
    val out = shape.mapParts { a =>
      val r = new Array[Double](a.length)
      System.arraycopy(flat, off, r, 0, a.length); off += a.length
      r
    }
    require(off == flat.length, s"flat vector of ${flat.length} values for a shape of $off")
    out
  }

  /** Seeded init, torch defaults: Linear W, b ~ U(-k, k) with
    * k = 1/sqrt(fan_in); BatchNorm γ = 1, β = 0, running mean 0 / var 1
    * (M1, similarity_search.py:25-44 — torch init is unseeded there; we
    * seed for reproducibility).
    */
  def init(seed: Long = 42L): Weights = {
    val rng = new Random(seed)
    val ws = Vector.newBuilder[Array[Array[Double]]]
    val bs = Vector.newBuilder[Array[Double]]
    (0 until dims.length - 1).foreach { l =>
      val (in, out) = (dims(l), dims(l + 1))
      val k = 1.0 / math.sqrt(in.toDouble)
      ws += Array.fill(out, in)((rng.nextDouble() * 2 - 1) * k)
      bs += Array.fill(out)((rng.nextDouble() * 2 - 1) * k)
    }
    val hidden = dims.slice(1, dims.length - 1)
    Weights(ws.result(), bs.result(), Some(Bn(
      hidden.map(d => Array.fill(d)(1.0)),
      hidden.map(d => new Array[Double](d)),
      hidden.map(d => new Array[Double](d)),
      hidden.map(d => Array.fill(d)(1.0)))))
  }

  /** One Linear of one row, `W·in + b`, followed by ReLU when `relu`. */
  private def layer(wM: Array[Array[Double]], bV: Array[Double], in: Array[Double],
                    relu: Boolean): Array[Double] = {
    val out = new Array[Double](bV.length)
    var i = 0
    while (i < out.length) {
      val row = wM(i)
      var s = bV(i)
      var j = 0
      while (j < row.length) { s += row(j) * in(j); j += 1 }
      out(i) = if (relu && s < 0) 0.0 else s
      i += 1
    }
    out
  }

  /** Inference forward pass (M4): per hidden layer affine + ReLU
    * (+ eval-mode BatchNorm over running stats when present; dropout is
    * identity in eval), final affine linear. Input/output float32 at the
    * boundary (reference uses float32 end-to-end,
    * similarity_search.py:195, 506).
    */
  def forward(wts: Weights, x: Array[Float]): Array[Float] = {
    var h = x.map(_.toDouble)
    var l = 0
    while (l < wts.nLayers) {
      val hidden = l < wts.nLayers - 1
      val out = layer(wts.w(l), wts.b(l), h, hidden)
      if (hidden) wts.bn.foreach { bn =>
        val (ga, be) = (bn.gamma(l), bn.beta(l))
        val (rm, rv) = (bn.runMean(l), bn.runVar(l))
        var i = 0
        while (i < out.length) {
          out(i) = ga(i) * (out(i) - rm(i)) / math.sqrt(rv(i) + bnEps) + be(i)
          i += 1
        }
      }
      h = out
      l += 1
    }
    h.map(_.toFloat)
  }

  /** A5 — FedAvg: weight = n_k / Σn (similarity_search.py:476-493). BN
    * state averages like every other state_dict entry (what a
    * parameter-shipping FL client does with running stats).
    */
  def fedAvg(results: Seq[(Weights, Long)]): Weights =
    unflatten(fedAvgFlat(results.map { case (w, n) => (w.flatten, n) }), results.head._1)

  /** FedAvg of flattened weights: `acc += src · n_k/Σn`, one client at a
    * time in the given order.
    */
  def fedAvgFlat(results: Seq[(Array[Double], Long)]): Array[Double] = {
    require(results.nonEmpty, "fedAvg of zero clients")
    val total = results.map(_._2).sum.toDouble
    val acc = new Array[Double](results.head._1.length)
    results.foreach { case (src, n) =>
      require(src.length == acc.length, "fedAvg of differently shaped clients")
      val weight = n / total
      var i = 0
      while (i < acc.length) { acc(i) += src(i) * weight; i += 1 }
    }
    acc
  }

  /** Train-mode BatchNorm1d of `out` (batch rows × features) in place over
    * the batch statistics: `xh = (z − μ)·istd`, then `γ·xh + β`; the
    * running stats move with momentum 0.1 (unbiased var, as torch).
    * Returns (xh, istd) for backprop.
    */
  private def batchNorm(out: Array[Array[Double]], bn: Bn,
                        l: Int): (Array[Array[Double]], Array[Double]) = {
    val (ga, be) = (bn.gamma(l), bn.beta(l))
    val (rm, rv) = (bn.runMean(l), bn.runVar(l))
    val b = out.length
    val dimL = ga.length
    val xh = Array.ofDim[Double](b, dimL)
    val istd = new Array[Double](dimL)
    var i = 0
    while (i < dimL) {
      var mu = 0.0
      var r = 0
      while (r < b) { mu += out(r)(i); r += 1 }
      mu /= b
      var va = 0.0
      r = 0
      while (r < b) { val dlt = out(r)(i) - mu; va += dlt * dlt; r += 1 }
      va /= b // biased var normalizes (torch)
      val is = 1.0 / math.sqrt(va + bnEps)
      istd(i) = is
      r = 0
      while (r < b) {
        xh(r)(i) = (out(r)(i) - mu) * is
        out(r)(i) = ga(i) * xh(r)(i) + be(i)
        r += 1
      }
      rm(i) = (1 - bnMomentum) * rm(i) + bnMomentum * mu
      rv(i) = (1 - bnMomentum) * rv(i) + bnMomentum * va * b / (b - 1.0)
      i += 1
    }
    (xh, istd)
  }

  /** What one train-mode forward pass keeps for backprop, per layer l:
    * `acts(l)` its input (`acts(nLayers)` = E); for hidden layers the
    * post-ReLU activation `relu(l)`, the inverted dropout mask `mask(l)`
    * (null when p = 0) and, when BN ran, `xhat(l)` and `invStd(l)`.
    */
  private final class Pass(nL: Int) {
    val acts = new Array[Array[Array[Double]]](nL + 1)
    val relu = new Array[Array[Array[Double]]](nL)
    val mask = new Array[Array[Array[Double]]](nL)
    val xhat = new Array[Array[Array[Double]]](nL)
    val invStd = new Array[Array[Double]](nL)
  }

  /** Train-mode forward of batch `x`: per hidden layer Linear → ReLU →
    * Dropout(p, inverted, drawn from `rng`) → batch-statistics BN (when
    * `wts.bn` is present and the batch has ≥ 2 rows: torch raises on
    * batches of 1, our shards never produce them). Updates the running
    * statistics in `wts`.
    */
  private def trainForward(wts: Weights, x: Array[Array[Double]], p: Double,
                           rng: Random): Pass = {
    val nL = wts.nLayers
    val pass = new Pass(nL)
    pass.acts(0) = x
    var l = 0
    while (l < nL) {
      val hidden = l < nL - 1
      val out = pass.acts(l).map(layer(wts.w(l), wts.b(l), _, hidden))
      if (hidden) {
        pass.relu(l) = out.map(_.clone())
        if (p > 0) {
          val keep = 1.0 / (1.0 - p)
          pass.mask(l) = out.map { row =>
            val m = new Array[Double](row.length)
            var i = 0
            while (i < row.length) {
              m(i) = if (rng.nextDouble() >= p) keep else 0.0
              row(i) *= m(i)
              i += 1
            }
            m
          }
        }
        if (x.length >= 2) wts.bn.foreach { bn =>
          val (xh, istd) = batchNorm(out, bn, l)
          pass.xhat(l) = xh
          pass.invStd(l) = istd
        }
      }
      pass.acts(l + 1) = out
      l += 1
    }
    pass
  }

  /** V5 — the Gram-reconstruction loss `MSE(E·Eᵀ, X·Xᵀ)` of a batch
    * (similarity_search.py:236-238) and D = E·Eᵀ − X·Xᵀ (b×b).
    */
  private def gramLoss(emb: Array[Array[Double]],
                       x: Array[Array[Double]]): (Double, Array[Array[Double]]) = {
    val b = x.length
    val d = emb(0).length
    val diff = Array.ofDim[Double](b, b)
    var loss = 0.0
    var r = 0
    while (r < b) {
      var c = 0
      while (c < b) {
        var re = 0.0; var rx = 0.0
        var j = 0
        while (j < d) { re += emb(r)(j) * emb(c)(j); j += 1 }
        j = 0
        while (j < x(0).length) { rx += x(r)(j) * x(c)(j); j += 1 }
        val dd = re - rx
        diff(r)(c) = dd
        loss += dd * dd
        c += 1
      }
      r += 1
    }
    (loss / (b.toDouble * b), diff)
  }

  /** Adam (β1 0.9, β2 0.999, eps 1e-8): moments `m`, `v` shaped like the
    * trained weights, bias corrections of the current step.
    */
  private final class Adam(like: Weights, lr: Double) {
    private val (beta1, beta2, eps) = (0.9, 0.999, 1e-8)
    val m: Weights = like.mapParts(a => new Array[Double](a.length))
    val v: Weights = like.mapParts(a => new Array[Double](a.length))
    private var t = 0
    private var bc1, bc2 = 0.0

    def nextStep(): Unit = {
      t += 1
      bc1 = 1 - math.pow(beta1, t)
      bc2 = 1 - math.pow(beta2, t)
    }

    /** Updates `p(i)` by gradient `g`, with `p`'s moments `mp`, `vp`. */
    def step(p: Array[Double], mp: Array[Double], vp: Array[Double], i: Int, g: Double): Unit = {
      val mi = mp(i) * beta1 + (1 - beta1) * g
      val vi = vp(i) * beta2 + (1 - beta2) * g * g
      mp(i) = mi; vp(i) = vi
      p(i) -= lr * (mi / bc1) / (math.sqrt(vi / bc2) + eps)
    }
  }

  /** M2 — local minibatch training with the Gram-reconstruction loss
    * `L = MSE(E·Eᵀ, X·Xᵀ)` (similarity_search.py:236-238) under Adam
    * (lr 1e-3, similarity_search.py:177). Batching mirrors the reference:
    * sequential slices of size min(32, n), n/batch full batches, no
    * inter-epoch shuffle (similarity_search.py:220-228).
    *
    * Hidden-layer train stack when `start.bn` is present — EXACTLY the
    * reference's module order (similarity_search.py:33-38):
    * Linear → ReLU → Dropout(0.2, inverted, seeded) → BatchNorm1d
    * (batch stats; running stats tracked with momentum 0.1; γ/β learned
    * under the same Adam). Plain Linear→ReLU when `bn` is None (spec
    * nets; no dropout there).
    *
    * Gradient: with D = E·Eᵀ − X·Xᵀ (symmetric, b×b), MSE over b² entries
    * gives dL/dE = (4/b²)·D·E, then standard backprop through
    * BN → dropout mask → ReLU → affine per hidden layer. Returns
    * (weights, per-epoch mean losses).
    */
  def localFit(start: Weights, data: Array[Array[Double]], epochs: Int = 5,
               batchSize: Int = 32, lr: Double = 1e-3,
               dropout: Double = dropoutP,
               dropoutSeed: Long = 42L): (Weights, Array[Double]) = {
    val n = data.length
    if (n == 0) return (start, Array.empty)
    val bs = math.min(batchSize, n)
    val nBatches = math.max(n / bs, 1)

    val wts = start.mapParts(_.clone())
    val nL = wts.nLayers
    val p = if (wts.bn.isDefined) dropout else 0.0
    val dropRng = new Random(dropoutSeed)
    val adam = new Adam(wts, lr)

    val epochLosses = new Array[Double](epochs)
    var e = 0
    while (e < epochs) {
      var epochLoss = 0.0
      var bi = 0
      while (bi < nBatches) {
        val x = data.slice(bi * bs, math.min((bi + 1) * bs, n))
        val b = x.length
        val pass = trainForward(wts, x, p, dropRng)
        val emb = pass.acts(nL)
        val (loss, diff) = gramLoss(emb, x)
        epochLoss += loss

        // grad wrt embeddings: (4/b²)·D·E
        val d = emb(0).length
        val scale = 4.0 / (b.toDouble * b)
        var grad = Array.ofDim[Double](b, d)
        var r = 0
        while (r < b) {
          var j = 0
          while (j < d) {
            var s = 0.0
            var c = 0
            while (c < b) { s += diff(r)(c) * emb(c)(j); c += 1 }
            grad(r)(j) = s * scale
            j += 1
          }
          r += 1
        }

        // backprop + Adam update
        adam.nextStep()
        var l = nL - 1
        while (l >= 0) {
          val in = pass.acts(l)
          val (wM, bV) = (wts.w(l), wts.b(l))
          val inDim = wM(0).length
          val outDim = bV.length
          if (l < nL - 1) {
            // backward through BN (if it ran this batch), then the
            // dropout mask, then the ReLU gate
            if (pass.xhat(l) != null) {
              val bn = wts.bn.get
              val (ga, xh, istd) = (bn.gamma(l), pass.xhat(l), pass.invStd(l))
              val (mBn, vBn) = (adam.m.bn.get, adam.v.bn.get)
              var i = 0
              while (i < outDim) {
                var dG = 0.0; var dBe = 0.0
                var sumDxhat = 0.0; var sumDxhatXhat = 0.0
                var rr = 0
                while (rr < b) {
                  val dy = grad(rr)(i)
                  dG += dy * xh(rr)(i)
                  dBe += dy
                  val dxh = dy * ga(i)
                  sumDxhat += dxh
                  sumDxhatXhat += dxh * xh(rr)(i)
                  rr += 1
                }
                // d(dropped input) per row
                rr = 0
                while (rr < b) {
                  val dxh = grad(rr)(i) * ga(i)
                  grad(rr)(i) = istd(i) / b *
                    (b * dxh - sumDxhat - xh(rr)(i) * sumDxhatXhat)
                  rr += 1
                }
                adam.step(ga, mBn.gamma(l), vBn.gamma(l), i, dG)
                adam.step(bn.beta(l), mBn.beta(l), vBn.beta(l), i, dBe)
                i += 1
              }
            }
            // dropout mask, then ReLU gate on the PRE-dropout activation
            val (a, mask) = (pass.relu(l), pass.mask(l))
            var rr = 0
            while (rr < b) {
              var i = 0
              while (i < outDim) {
                if (mask != null) grad(rr)(i) *= mask(rr)(i)
                if (a(rr)(i) <= 0.0) grad(rr)(i) = 0.0
                i += 1
              }
              rr += 1
            }
          }
          // grads: dW(i,j) = Σ_r grad(r,i)·in(r,j); db(i) = Σ_r grad(r,i)
          // next grad: dIn(r,j) = Σ_i grad(r,i)·W(i,j)  (pre-update W)
          val nextGrad = if (l > 0) Array.ofDim[Double](b, inDim) else null
          var i = 0
          while (i < outDim) {
            val wRow = wM(i)
            var gB = 0.0
            var rr = 0
            while (rr < b) {
              val g = grad(rr)(i)
              gB += g
              if (l > 0) {
                val ng = nextGrad(rr)
                var j = 0
                while (j < inDim) { ng(j) += g * wRow(j); j += 1 }
              }
              rr += 1
            }
            var j = 0
            while (j < inDim) {
              var gW = 0.0
              rr = 0
              while (rr < b) { gW += grad(rr)(i) * in(rr)(j); rr += 1 }
              adam.step(wRow, adam.m.w(l)(i), adam.v.w(l)(i), j, gW)
              j += 1
            }
            adam.step(bV, adam.m.b(l), adam.v.b(l), i, gB)
            i += 1
          }
          if (l > 0) grad = nextGrad
          l -= 1
        }
        bi += 1
      }
      epochLosses(e) = epochLoss / nBatches
      e += 1
    }
    (wts, epochLosses)
  }

  /** The objective [[localFit]] minimises on batch `x` with dropout off:
    * the train-mode forward (batch-statistics BN) and its Gram loss, run
    * on a copy so the running statistics stay as they are. Used by the
    * numerical gradient checks.
    */
  def trainingLossOf(wts: Weights, x: Array[Array[Double]]): Double =
    gramLoss(trainForward(wts.mapParts(_.clone()), x, 0.0, new Random(0L))
      .acts(wts.nLayers), x)._1
}
