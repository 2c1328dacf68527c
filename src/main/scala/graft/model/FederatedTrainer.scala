package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M3 — federated round loop (similarity_search.py:436-474), Spark-native:
  *
  *  - shard boundary = `hospital` column; each round ships the global
  *    weights to executors once (task closure, ~0.4 MB) and runs one local
  *    training job per shard IN PARALLEL via
  *    `groupByKey(hospital).mapGroups` (the reference trains hospitals
  *    sequentially in a for-loop — similarity_search.py:451);
  *  - each task is one [[ShardClient]]'s `fit` and returns its flat
  *    weights and n_samples; the driver averages the flat vectors (A5
  *    FedAvg, similarity_search.py:476-493, [[Mlp.fedAvgFlat]]) and loops.
  *
  * Driver↔executor crossings per round: 1 broadcast down (weights in
  * closure), 1 collect up (k flattened weight vectors, k = #hospitals).
  *
  * Scale: hospitals train concurrently across the cluster; a shard's
  * feature matrix must fit in one task (reference semantics — each
  * hospital's model sees its whole local dataset batch-by-batch). For
  * shards beyond single-task memory, sub-shard then FedAvg the sub-shards
  * — same algebra, one more level of averaging.
  */
object FederatedTrainer {

  case class TrainResult(hospital: String, flat: Array[Double], n: Long, finalLoss: Double)

  /** One federated training run over a DataFrame bearing `hospital` and a
    * float-array `features` column (P1/P2 output), from `Mlp.init(42)`
    * with [[ShardClient.fit]]'s batch size and learning rate. Returns the
    * trained global weights plus per-round mean losses for observability.
    */
  def train(patients: DataFrame, rounds: Int = 3, localEpochs: Int = 5):
      (Mlp.Weights, Seq[Double]) = {
    val spark = patients.sparkSession
    import spark.implicits._

    val ds = patients
      .select(col("hospital"), col("features").cast("array<double>").as("features"))
      .as[(String, Array[Double])]

    var globalFlat = Mlp.init().flatten
    val roundLosses = Seq.newBuilder[Double]

    (0 until rounds).foreach { _ =>
      val start = globalFlat // serialized into the task closure
      val results = ds.groupByKey(_._1)
        .mapGroups { (hospital, rows) =>
          val (flat, n, loss) = ShardClient(hospital, rows.map(_._2).toArray)
            .fit(start, localEpochs)
          TrainResult(hospital, flat, n, loss)
        }
        .collect()

      globalFlat = Mlp.fedAvgFlat(results.toSeq.map(r => (r.flat, r.n)))
      roundLosses += {
        val ls = results.map(_.finalLoss).filterNot(_.isNaN)
        if (ls.nonEmpty) ls.sum / ls.length else Double.NaN
      }
    }
    (Mlp.unflatten(globalFlat), roundLosses.result())
  }

  /** M4 — batch inference: embed every row's feature array with the
    * trained weights (similarity_search.py:495-506). The weights ride the
    * task closure; the UDF is a pure Array[Float] ⇒ Array[Float] map —
    * embarrassingly parallel, no shuffle.
    */
  def withEmbeddings(df: DataFrame, wts: Mlp.Weights): DataFrame = {
    val w = wts // serialized once per task, not per row
    val embed = udf { x: Seq[Float] => Mlp.forward(w, x.toArray) }
    df.withColumn("embedding", embed(col("features")))
  }
}
