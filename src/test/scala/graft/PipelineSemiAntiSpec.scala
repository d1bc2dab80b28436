package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.incremental.Ivm
import graft.runtime.Pipeline
import graft.zset.ZSets

/** SemiAnti IVM shape: classification of LEFT SEMI/ANTI JOIN and
  * EXISTS/IN spellings, exactness of the indicator delta rule against
  * batch recompute (including multi-derivation indicator counts), and the
  * O(|delta|) shuffle contract.
  */
class PipelineSemiAntiSpec extends SparkSpec {
  import spark.implicits._

  private val programSql =
    """CREATE TABLE orders (o_id BIGINT NOT NULL, o_cust BIGINT, o_amt DOUBLE);
      |CREATE TABLE customer (c_id BIGINT NOT NULL, c_name VARCHAR);
      |CREATE VIEW sem AS
      |  SELECT o.o_id, o.o_amt FROM orders o
      |  LEFT SEMI JOIN customer c ON o.o_cust = c.c_id AND o.o_amt > 20;
      |CREATE VIEW ex AS
      |  SELECT o_id, o_cust FROM orders o
      |  WHERE EXISTS (SELECT 1 FROM customer c
      |                WHERE c.c_id = o.o_cust AND c.c_name LIKE 'c1%');
      |CREATE VIEW ant AS
      |  SELECT o_id, o_cust FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_id = o.o_cust);
      |CREATE VIEW inq AS
      |  SELECT o_id FROM orders
      |  WHERE o_cust IN (SELECT c_id FROM customer WHERE c_id % 2 = 0);
      |CREATE VIEW inqdiv AS
      |  SELECT o_id, o_cust / 4 AS q FROM orders
      |  WHERE o_cust IN (SELECT c_id FROM customer WHERE c_id % 2 = 0);
      |CREATE VIEW notin AS
      |  SELECT o_id FROM orders
      |  WHERE o_cust NOT IN (SELECT c_id FROM customer);""".stripMargin

  private def orders(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("o_id"),
      (col("id") % 50).as("o_cust"),
      (col("id") % 100 + 11).cast("double").as("o_amt"))

  private def customers(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("c_id"),
      concat(lit("c"), col("id") % 40).as("c_name"))

  test("semi/anti spellings classify to SemiAnti; NOT IN stays Opaque") {
    val pipe = Pipeline(spark, programSql)
    assert(pipe.shapeOf("sem")
      === Ivm.SemiAnti(Set("orders"), Set("customer"), isAnti = false))
    assert(pipe.shapeOf("ex")
      === Ivm.SemiAnti(Set("orders"), Set("customer"), isAnti = false))
    assert(pipe.shapeOf("ant")
      === Ivm.SemiAnti(Set("orders"), Set("customer"), isAnti = true))
    assert(pipe.shapeOf("inq")
      === Ivm.SemiAnti(Set("orders"), Set("customer"), isAnti = false))
    // integral `/` is integer division in the maintained view too
    assert(pipe.shapeOf("inqdiv")
      === Ivm.SemiAnti(Set("orders"), Set("customer"), isAnti = false))
    // NOT IN rewrites to a null-tolerant OR condition — not a pure equality
    // conjunction, so the indicator rule would be wrong; must fall back
    assert(pipe.shapeOf("notin") === Ivm.Opaque)
  }

  test("incremental semi/anti maintenance equals batch recompute") {
    val pipe = Pipeline(spark, programSql)
    val o = orders(500).localCheckpoint(true)
    val c = customers(60).localCheckpoint(true)
    pipe.step(Map(
      "orders" -> ZSets.lift(o.filter(col("o_id") % 3 =!= 0)),
      "customer" -> ZSets.lift(c.filter(col("c_id") < 50))))
    pipe.step(Map(
      "orders" -> ZSets.lift(o.filter(col("o_id") % 3 === 0))
        .unionByName(ZSets.negate(ZSets.lift(o.filter(col("o_id") % 7 === 0)))),
      "customer" -> ZSets.lift(c.filter(col("c_id") >= 50))
        .unionByName(ZSets.negate(ZSets.lift(c.filter(col("c_id") % 11 === 3))))))

    val batch = Pipeline(spark, programSql).runBatch(Map(
      "orders" -> o.filter(col("o_id") % 7 =!= 0),
      "customer" -> c.filter(col("c_id") % 11 =!= 3)))
    for (v <- Seq("sem", "ex", "ant", "inq", "inqdiv", "notin")) {
      val inc = pipe.adHoc(s"SELECT * FROM $v")
      val exp = batch(v)
      assert(inc.exceptAll(exp).isEmpty && exp.exceptAll(inc).isEmpty,
        s"view $v diverged from batch recompute")
    }
  }

  test("indicator transitions drive exact deltas (multi-derivation counts)") {
    val sql =
      """CREATE TABLE l (k BIGINT, v VARCHAR);
        |CREATE TABLE r (k BIGINT);
        |CREATE VIEW s AS
        |  SELECT v FROM l WHERE EXISTS (SELECT 1 FROM r WHERE r.k = l.k);
        |CREATE VIEW a AS
        |  SELECT v FROM l WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.k = l.k);""".stripMargin
    val pipe = Pipeline(spark, sql)
    // step 1: l gets (1,x),(2,y); r gets key 1 TWICE (two derivations)
    val d1 = pipe.step(Map(
      "l" -> Seq((1L, "x"), (2L, "y")).toDF("k", "v").transform(ZSets.lift),
      "r" -> Seq(1L, 1L).toDF("k").transform(ZSets.lift)))
    assert(d1("s").as[(String, Long)].collect().toSet === Set(("x", 1L)))
    assert(d1("a").as[(String, Long)].collect().toSet === Set(("y", 1L)))
    // step 2: retract ONE of the two k=1 rows — count 2→1, no presence
    // transition, so neither view may emit anything
    val d2 = pipe.step(Map("r" -> Seq((1L, -1L)).toDF("k", ZSets.W)))
    assert(d2("s").isEmpty && d2("a").isEmpty)
    // step 3: retract the last k=1 row — presence 1→0: x leaves the semi
    // view and enters the anti view
    val d3 = pipe.step(Map("r" -> Seq((1L, -1L)).toDF("k", ZSets.W)))
    assert(d3("s").as[(String, Long)].collect().toSet === Set(("x", -1L)))
    assert(d3("a").as[(String, Long)].collect().toSet === Set(("x", 1L)))
    // step 4: key 2 appears — y switches sides
    val d4 = pipe.step(Map("r" -> Seq(2L).toDF("k").transform(ZSets.lift)))
    assert(d4("s").as[(String, Long)].collect().toSet === Set(("y", 1L)))
    assert(d4("a").as[(String, Long)].collect().toSet === Set(("y", -1L)))
    assert(pipe.adHoc("SELECT v FROM s").as[String].collect().toSet === Set("y"))
    assert(pipe.adHoc("SELECT v FROM a").as[String].collect().toSet === Set("x"))
  }

  private class ShuffleMeter extends SparkListener {
    @volatile var records: Long = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      records += sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
  }

  private def meter(action: => Unit): Long = {
    val m = new ShuffleMeter
    spark.sparkContext.addSparkListener(m)
    try {
      action
      org.apache.spark.graft.TestShims.drainListenerBus(spark.sparkContext)
      m.records
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("semi/anti step shuffle is independent of snapshot size") {
    def seeded(n: Int): Pipeline = {
      val p = Pipeline(spark, programSql)
      p.step(Map("orders" -> ZSets.lift(orders(n)),
        "customer" -> ZSets.lift(customers(60))))
      p
    }
    val oDelta = ZSets.lift(orders(12).withColumn("o_id", col("o_id") + 1000000))
      .localCheckpoint(true)
    val cDelta = ZSets.lift(customers(4).withColumn("c_id", col("c_id") + 2000))
      .localCheckpoint(true)
    def one(p: Pipeline): Unit =
      p.step(Map("orders" -> oDelta, "customer" -> cDelta))
    val small = { val p = seeded(2000); meter(one(p)) }
    val large = { val p = seeded(40000); meter(one(p)) }
    assert(large <= small + 100,
      s"semi/anti step shuffle grew with snapshot: small=$small large=$large")
  }
}
