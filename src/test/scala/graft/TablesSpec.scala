package graft

class TablesSpec extends SparkSpec {

  test("staged rich corpus is row-identical to the defining expression") {
    val derived = Tables.richDocuments(spark, sfDir)
    val staged = Tables.richDocumentsStaged(spark, sfDir)
    assert(staged.schema === derived.schema)
    assert(staged.count() === derived.count())
    assert(staged.exceptAll(derived).count() === 0L)
    assert(derived.exceptAll(staged).count() === 0L)
  }

  test("staging is reused: second read touches the same files") {
    val a = Tables.richDocumentsStaged(spark, sfDir).inputFiles.sorted.toSeq
    val b = Tables.richDocumentsStaged(spark, sfDir).inputFiles.sorted.toSeq
    assert(a.nonEmpty && a === b)
  }

  test("widen repartitions a scan narrower than the cluster") {
    val df = Tables.embeddings(spark, sfDir)
    val p = spark.sparkContext.defaultParallelism
    val widened = Tables.widen(df)
    assert(widened ne df)
    widened.queryExecution.analyzed match {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        assert(r.shuffle && r.numPartitions == p)
      case other => fail(s"expected a round-robin repartition, got\n$other")
    }
  }

  test("widen leaves a frame alone when its width is not a file scan's") {
    import spark.implicits._
    val local = Seq(1L, 2L, 3L).toDF("vec_id")
    val shuffled = spark.range(100).toDF("vec_id").repartition(3)
    val mixed = Tables.embeddings(spark, sfDir).join(local, "vec_id")
    for (df <- Seq(local, shuffled, mixed)) assert(Tables.widen(df) eq df)
  }
}
