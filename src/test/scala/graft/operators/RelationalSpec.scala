package graft.operators

import java.sql.Timestamp

import graft.{SparkSpec, Staged}

class RelationalSpec extends SparkSpec {

  test("q21 grouped rewrite matches the EXISTS / NOT EXISTS form with a NULL l_suppkey") {
    import spark.implicits._
    val dir = Staged.scratch(spark, "graft_q21_nullsupp")
    val ordered = Timestamp.valueOf("2020-01-01 00:00:00")
    val onTime = Timestamp.valueOf("2020-01-10 00:00:00")
    val late = Timestamp.valueOf("2020-06-01 00:00:00")
    Seq((1L, "Supplier#1"), (2L, "Supplier#2"), (3L, "Supplier#3"))
      .toDF("s_suppkey", "s_name").write.parquet(s"$dir/supplier.parquet")
    Seq(10L, 20L, 30L).map(o => (o, "F", ordered))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate").write.parquet(s"$dir/orders.parquet")
    val nullSupp: java.lang.Long = null
    Seq[(Long, java.lang.Long, Timestamp)](
      // supplier 1 is late; the only other line has no supplier, which is
      // not "another supplier": 1 does not qualify on this order
      (10L, 1L, late), (10L, nullSupp, onTime),
      // supplier 2 is late next to an on-time supplier 3; the other late
      // line has no supplier, which does not block 2
      (20L, 2L, late), (20L, 3L, onTime), (20L, nullSupp, late),
      // control: supplier 1 is the only late one next to supplier 3
      (30L, 1L, late), (30L, 3L, onTime))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate").write.parquet(s"$dir/lineitem.parquet")

    val oracle = spark.newSession()
    for (t <- Seq("supplier", "orders", "lineitem"))
      oracle.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    val want = oracle.sql(Relational.oracleSql("q21_waiting_suppliers"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(want == Seq(("Supplier#1", 1L), ("Supplier#2", 1L)))
    val got = Relational.q21WaitingSuppliers(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }
}
