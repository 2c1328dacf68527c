package graft.model

import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.util.Random

import graft.SparkSpec
import graft.search.PatientSearch

/** Bit pins of the embedding model: SHA-256 digests of the raw IEEE bits
  * of five seeded outputs (eval forward, BN+dropout training, plain-net
  * training, FedAvg, one federated round on the pipeline's corpus). The
  * `q_patient_*` goldens depend on these bits, so any rewrite of `Mlp` or
  * `FederatedTrainer` must leave every digest unchanged.
  */
class MlpBitsSpec extends SparkSpec {

  private def digest(fill: ByteBuffer => Unit, bytes: Int): String = {
    val buf = ByteBuffer.allocate(bytes)
    fill(buf)
    MessageDigest.getInstance("SHA-256").digest(buf.array).map("%02x".format(_)).mkString
  }

  private def doubles(xs: Array[Double]*): String = digest(
    b => xs.foreach(_.foreach(v => b.putLong(java.lang.Double.doubleToRawLongBits(v)))),
    8 * xs.map(_.length).sum)

  private def floats(rows: Array[Array[Float]]): String = digest(
    b => rows.foreach(_.foreach(v => b.putInt(java.lang.Float.floatToRawIntBits(v)))),
    4 * rows.map(_.length).sum)

  private def data(rows: Int): Array[Array[Double]] = {
    val rng = new Random(7)
    Array.fill(rows)(Array.fill(Mlp.dims(0))(rng.nextGaussian()))
  }

  test("bit pin (a): eval forward of init(42) over 512 seeded rows") {
    val rng = new Random(3)
    val x = Array.fill(512)(Array.fill(Mlp.dims(0))(rng.nextGaussian().toFloat))
    val w = Mlp.init(42)
    assert(floats(x.map(Mlp.forward(w, _))) ==
      "ad27d1020a4744b2e12f6a252a70c65742d14855e37918447822d7565f919fc9")
  }

  test("bit pin (b): localFit with BatchNorm and dropout 0.2, 96 rows, 2 epochs") {
    val (w, losses) = Mlp.localFit(Mlp.init(42), data(96), epochs = 2)
    assert(doubles(w.flatten, losses) ==
      "74de1697b377a1797c0411956c5750f7b76fe15bbd83003fda747a94bcd49d14")
  }

  test("bit pin (c): localFit of a plain (no-BN) net, 96 rows, 2 epochs") {
    val (w, losses) = Mlp.localFit(Mlp.init(42).copy(bn = None), data(96), epochs = 2)
    assert(doubles(w.flatten, losses) ==
      "11553d12094db1baa483d03cb0cb769b3e0da6213d5513d26401c9bda216cba6")
  }

  test("bit pin (d): fedAvg of three seeded inits weighted 300/240/360") {
    val avg = Mlp.fedAvg(Seq((Mlp.init(1), 300L), (Mlp.init(2), 240L), (Mlp.init(3), 360L)))
    assert(doubles(avg.flatten) ==
      "84c6bc216df5e0da5ffd499ef331a8a25149d2a9ff3c00e543178ca92e6f5feb")
  }

  test("bit pin (e): one federated round of 2 epochs on the 300/240/360 hospitals") {
    val ps = new PatientSearch(spark)
    val df = ps.setupHospitals(Seq(("Hospital_A", 300L), ("Hospital_B", 240L), ("Hospital_C", 360L)))
    try {
      val (w, losses) = FederatedTrainer.train(df, rounds = 1, localEpochs = 2)
      assert(doubles(w.flatten, losses.toArray) ==
        "46b42de20753e4e5ba43966efd59c5a5a1b368d8a1bbd2cca56b0c1fe42e548e")
    } finally df.unpersist(blocking = true)
  }
}
