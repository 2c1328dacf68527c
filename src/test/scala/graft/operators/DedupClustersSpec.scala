package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DedupClusters.connectedComponents(pairs.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangle counts and clustering coefficients on a hand graph") {
    // K4 minus edge (3,4): triangles (1,2,3) and (1,2,4); node degrees
    // 1:3 2:3 3:2 4:2; coefficients 1:2*2/(3*2)=0.666667, 3:2*1/(2*1)=1.0
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 6L)) // plus a triangle-free pair
    val got = DedupClusters.triangles(edges.toDF("a_id", "b_id"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((3L, 2L, 0.666667)))
    assert(got(2L) === ((3L, 2L, 0.666667)))
    assert(got(3L) === ((2L, 1L, 1.0)))
    assert(got(4L) === ((2L, 1L, 1.0)))
    assert(got(5L) === ((1L, 0L, 0.0)))
    assert(got(6L) === ((1L, 0L, 0.0)))
  }

  test("degree orientation collapses the star graph's wedge count") {
    // star: hub 0 — leaves 1..50, plus chord (1,2) closing one triangle.
    // Id orientation points every hub edge OUT of 0 (lowest id), so the
    // hub alone contributes C(50,2) = 1225 wedges; degree orientation
    // points leaf→hub, leaving the hub zero out-edges — only the chord's
    // endpoints form wedges.
    val edges = ((1L to 50L).map(l => (0L, l)) :+ (1L, 2L))
      .toDF("a_id", "b_id")
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    val idWedges = DedupClusters.wedges(
      edges.select(col("u").as("src"), col("v").as("dst"))).count()
    val degWedges = DedupClusters.wedges(
      DedupClusters.orientByDegree(edges, deg)).count()
    assert(idWedges >= 1225L, s"id orientation must pay the hub: $idWedges")
    assert(degWedges <= 2L, s"degree orientation must not: $degWedges")
    // and the triangle answer is unchanged by the orientation choice
    val tri = DedupClusters.triangles(
        ((1L to 50L).map(l => (0L, l)) :+ (1L, 2L)).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tri(0L) === 1L && tri(1L) === 1L && tri(2L) === 1L)
    assert((3L to 50L).forall(tri(_) === 0L))
  }

  test("two components: chain and pair resolve to min-id representatives") {
    val got = comps(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("long chain converges in O(log d) pointer-doubling rounds") {
    // a 33-node path: plain hash-to-min would need 32 rounds; pointer
    // doubling must close it well inside maxIter = 20
    val chain = (0L until 32L).map(i => (i, i + 1))
    val got = comps(chain)
    assert(got.size == 33)
    assert(got.values.forall(_ == 0L))
  }

  test("durable checkpointDir: same result via reliable checkpoint, and " +
    "checkpoint state actually lands in the directory") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ck").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val durable = DedupClusters.connectedComponents(
        pairs.toDF("a_id", "b_id"), checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable == comps(pairs))
    def anyFile(p: java.io.File): Boolean =
      p.isFile || Option(p.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), "reliable checkpoints must be on disk")
  }

  test("result is independent of pair order and direction") {
    val base = Seq((5L, 9L), (9L, 2L), (7L, 8L), (3L, 7L))
    val flipped = scala.util.Random.shuffle(base.map { case (a, b) => (b, a) })
    assert(comps(base) == comps(flipped))
  }

  test("q_dedup_clusters: every near-dup pair is co-clustered, reps are " +
    "cluster minima, sizes consistent") {
    val pairs = MinHashDedup.minhashQuery(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus must contain near-dup pairs")
    val rows = DedupClusters.clustersQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rep = rows.map(t => t._1 -> t._2).toMap
    pairs.foreach { case (a, b) =>
      assert(rep(a) == rep(b), s"pair ($a,$b) must share a cluster")
    }
    // representative = min member; size = member count
    rows.groupBy(_._2).foreach { case (r, members) =>
      assert(members.map(_._1).min == r, s"rep $r must be its cluster's min id")
      members.foreach(m => assert(m._3 == members.length))
    }
  }

  test("pageRankQuery leaves no cached edges or round state behind: after " +
    "its action the only new persisted RDD is the result's own checkpoint") {
    val sc = spark.sparkContext
    MinHashDedup.minhashPairsStaged(spark, sfDir).count() // stage the pairs first
    val before = sc.getPersistentRDDs.keySet
    val query = DedupClusters.pageRankQuery(spark, sfDir)
    val first = query.collect().toSeq
    // the release runs on the listener bus at the first job end after the
    // result is checkpointed; the drain's sentinel job is one
    graft.tools.ListenerDrain(sc)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    assert(left.size == 1 && left.values.forall(_.isCheckpointed),
      s"new persisted RDDs after the action: ${left.values.map(_.toDebugString.linesIterator.next())}")
    assert(query.collect().toSeq == first, "the result must stay readable after the release")
  }
}
