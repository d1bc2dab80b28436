package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.incremental.Ivm
import graft.runtime.Pipeline
import graft.zset.ZSets

/** IVM planner: shape classification, exactness of each delta rule against
  * batch recompute, and the scale contract (step shuffle independent of
  * snapshot size) for the non-opaque shapes.
  */
class PipelineIvmSpec extends SparkSpec {
  import spark.implicits._

  private val programSql =
    """CREATE TABLE orders (o_id BIGINT NOT NULL, o_cust BIGINT, o_amt DOUBLE);
      |CREATE TABLE customer (c_id BIGINT NOT NULL, c_name VARCHAR);
      |CREATE LOCAL VIEW big AS SELECT o_id, o_cust, o_amt FROM orders WHERE o_amt > 10;
      |CREATE LOCAL VIEW joined AS
      |  SELECT o.o_id, o.o_amt, c.c_name
      |  FROM big o JOIN customer c ON o.o_cust = c.c_id;
      |CREATE VIEW amt_by_cust AS
      |  SELECT o_cust, COUNT(*) AS n, SUM(o_amt) AS total, MAX(o_amt) AS mx
      |  FROM big GROUP BY o_cust;
      |CREATE VIEW dnames AS SELECT DISTINCT c_name FROM customer;
      |CREATE VIEW opaque_topk AS
      |  SELECT o_cust, o_amt FROM big ORDER BY o_amt DESC LIMIT 5;""".stripMargin

  private def orders(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("o_id"),
      (col("id") % 50).as("o_cust"),
      (col("id") % 100 + 11).cast("double").as("o_amt"))

  private def customers(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("c_id"),
      concat(lit("c"), col("id") % 40).as("c_name"))

  test("views classify to the expected IVM shapes") {
    val pipe = Pipeline(spark, programSql)
    assert(pipe.shapeOf("big") === Ivm.Linear(Set("orders")))
    assert(pipe.shapeOf("joined") === Ivm.Multilinear(Seq("big", "customer")))
    assert(pipe.shapeOf("amt_by_cust")
      === Ivm.GroupAgg("big", Seq("o_cust"), Seq("o_cust")))
    assert(pipe.shapeOf("dnames")
      === Ivm.GroupAgg("customer", Seq("c_name"), Seq("c_name")))
    assert(pipe.shapeOf("opaque_topk") === Ivm.Opaque)
  }

  test("incremental maintenance equals batch recompute for every shape") {
    val o = orders(500).localCheckpoint(true)
    val c = customers(60).localCheckpoint(true)
    // step 1: inserts; step 2: mixed insert+retract touching both tables
    val steps = Seq(
      Map(
        "orders" -> ZSets.lift(o.filter(col("o_id") % 3 =!= 0)),
        "customer" -> ZSets.lift(c.filter(col("c_id") < 50))),
      Map(
        "orders" -> ZSets.lift(o.filter(col("o_id") % 3 === 0))
          .unionByName(ZSets.negate(ZSets.lift(o.filter(col("o_id") % 7 === 0)))),
        "customer" -> ZSets.lift(c.filter(col("c_id") >= 50))
          .unionByName(ZSets.negate(ZSets.lift(c.filter(col("c_id") % 11 === 3))))))
    def run(s: SparkSession): (Pipeline, Seq[Map[String, DataFrame]]) = {
      val pipe = Pipeline(s, programSql)
      (pipe, steps.map(pipe.step))
    }
    // local[4] resolves viewParallelism to 1: the serial step loop
    val (serial, serialOut) = run(spark)
    // the concurrent step loop (integrate pool, per-level view fan-out,
    // warm-shared phase) on a session of its own: levels are
    // {big, dnames} and {joined, amt_by_cust, opaque_topk}
    val parSession = spark.newSession()
    parSession.conf.set("spark.graft.pipeline.viewParallelism", "8")
    val warmJobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.matches("step#\\d+ warm-shared")))
          warmJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (parallel, parallelOut) =
      try {
        val r = run(parSession)
        org.apache.spark.graft.TestShims.drainListenerBus(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(warmJobs.get > 0, "the parallel step loop never ran warm-shared")

    def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
      val (ca, cb) = (ZSets.consolidate(a), ZSets.consolidate(b))
      val cbo = cb.select(ca.columns.map(col): _*)
      ca.exceptAll(cbo).isEmpty && cbo.exceptAll(ca).isEmpty
    }
    serialOut.zip(parallelOut).zipWithIndex.foreach { case ((sd, pd), i) =>
      assert(pd.keySet === sd.keySet)
      for ((v, d) <- sd)
        assert(sameMultiset(d, pd(v)),
          s"step ${i + 1}: parallel delta of $v diverged from serial")
    }

    val batch = Pipeline(spark, programSql).runBatch(Map(
      "orders" -> o.filter(col("o_id") % 3 =!= 0 || col("o_id") % 3 === 0)
        .filter(col("o_id") % 7 =!= 0),
      "customer" -> c.filter(col("c_id") % 11 =!= 3)))

    for ((name, pipe) <- Seq("serial" -> serial, "parallel" -> parallel);
         v <- Seq("big", "joined", "amt_by_cust", "dnames")) {
      val inc = pipe.adHoc(s"SELECT * FROM $v")
      val exp = batch(v)
      assert(inc.exceptAll(exp).isEmpty && exp.exceptAll(inc).isEmpty,
        s"$name view $v diverged from batch recompute")
    }
  }

  test("agg view emits retraction-formed deltas incl. group tombstones") {
    val sql =
      """CREATE TABLE t (k VARCHAR, v BIGINT);
        |CREATE VIEW m AS SELECT k, MAX(v) AS mx FROM t GROUP BY k;""".stripMargin
    val pipe = Pipeline(spark, sql)
    val d1 = pipe.step(Map("t" -> Seq(("a", 1L, 1L), ("b", 9L, 1L))
      .toDF("k", "v", ZSets.W)))("m")
    assert(d1.orderBy("k").as[(String, Long, Long)].collect()
      === Array(("a", 1L, 1L), ("b", 9L, 1L)))
    // retract all of group b → tombstone (-1) for its old row, no new row
    val d2 = pipe.step(Map("t" -> Seq(("b", 9L, -1L))
      .toDF("k", "v", ZSets.W)))("m")
    assert(d2.as[(String, Long, Long)].collect() === Array(("b", 9L, -1L)))
    assert(pipe.adHoc("SELECT * FROM m").as[(String, Long)].collect()
      === Array(("a", 1L)))
  }

  test("aggregate directly over a join classifies AggOverMulti and converges") {
    val sql =
      """CREATE TABLE orders (o_id BIGINT NOT NULL, o_cust BIGINT, o_amt DOUBLE);
        |CREATE TABLE customer (c_id BIGINT NOT NULL, c_name VARCHAR);
        |CREATE VIEW spend AS
        |  SELECT c_name, COUNT(*) AS n, SUM(o_amt) AS total
        |  FROM orders JOIN customer ON o_cust = c_id
        |  GROUP BY c_name;""".stripMargin
    val pipe = Pipeline(spark, sql)
    assert(pipe.shapeOf("spend") ===
      Ivm.AggOverMulti(Seq("orders", "customer"), Seq(4), Seq("c_name")))

    val o = orders(400).localCheckpoint(true)
    val c = customers(60).localCheckpoint(true)
    pipe.step(Map(
      "orders" -> ZSets.lift(o.filter(col("o_id") % 2 === 0)),
      "customer" -> ZSets.lift(c.filter(col("c_id") < 50))))
    pipe.step(Map(
      "orders" -> ZSets.lift(o.filter(col("o_id") % 2 === 1))
        .unionByName(ZSets.negate(ZSets.lift(o.filter(col("o_id") % 5 === 0)))),
      "customer" -> ZSets.lift(c.filter(col("c_id") >= 50))
        .unionByName(ZSets.negate(ZSets.lift(c.filter(col("c_id") % 7 === 3))))))

    val expected = Pipeline(spark, sql).runBatch(Map(
      "orders" -> o.filter(col("o_id") % 5 =!= 0),
      "customer" -> c.filter(col("c_id") % 7 =!= 3)))("spend")
    val got = pipe.adHoc("SELECT * FROM spend")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "AggOverMulti view diverged from batch recompute")
  }

  test("append_only table + MIN/MAX view routes through the chain path") {
    val sql =
      """CREATE TABLE metrics (k VARCHAR, v BIGINT) WITH ('append_only' = 'true');
        |CREATE VIEW extremes AS
        |  SELECT k, MIN(v) AS mn, MAX(v) AS mx FROM metrics GROUP BY k;""".stripMargin
    val pipe = Pipeline(spark, sql)
    // classification carries the chain columns
    assert(pipe.shapeOf("extremes") ===
      Ivm.GroupAgg("metrics", Seq("k"), Seq("k"),
        Seq("mn" -> false, "mx" -> true)))
    pipe.step(Map("metrics" -> ZSets.lift(
      Seq(("a", 5L), ("a", 9L), ("b", 2L)).toDF("k", "v"))))
    val d2 = pipe.step(Map("metrics" -> ZSets.lift(
      Seq(("a", 1L), ("c", 7L)).toDF("k", "v"))))("extremes")
    // delta: retract a's old row, emit a's new extremes + c's first row
    assert(d2.orderBy("k", ZSets.W).as[(String, Long, Long, Long)]
      .collect().toSet === Set(
        ("a", 1L, 9L, 1L), ("a", 5L, 9L, -1L), ("c", 7L, 7L, 1L)))
    assert(pipe.adHoc("SELECT * FROM extremes ORDER BY k")
      .as[(String, Long, Long)].collect()
      === Array(("a", 1L, 9L), ("b", 2L, 2L), ("c", 7L, 7L)))
  }

  test("alias colliding with a known relation classifies the actual source") {
    val sql =
      """CREATE TABLE a (x BIGINT);
        |CREATE TABLE b (x BIGINT);
        |CREATE VIEW v1 AS SELECT x FROM b AS a;
        |CREATE VIEW v2 AS SELECT x FROM (SELECT x + 1 AS x FROM b) AS a;
        |CREATE VIEW v3 AS SELECT x FROM (VALUES (500)) AS a(x);""".stripMargin
    val pipe = Pipeline(spark, sql)
    // v1 reads b (the alias is a rename, not the relation identity); v2's
    // colliding alias is ignored — the subquery is linear in b; v3's alias
    // collides but wraps a constant → Opaque, never misbound to table a
    assert(pipe.shapeOf("v1") === Ivm.Linear(Set("b")))
    assert(pipe.shapeOf("v2") === Ivm.Linear(Set("b")))
    assert(pipe.shapeOf("v3") === Ivm.Opaque)
    pipe.step(Map(
      "a" -> Seq((100L, 1L)).toDF("x", ZSets.W),
      "b" -> Seq((1L, 1L), (2L, 1L)).toDF("x", ZSets.W)))
    assert(pipe.adHoc("SELECT * FROM v1").as[Long].collect().toSet
      === Set(1L, 2L))
    assert(pipe.adHoc("SELECT * FROM v2").as[Long].collect().toSet
      === Set(2L, 3L))
    // a retraction on b must flow through both (no frozen view)
    pipe.step(Map("b" -> Seq((2L, -1L)).toDF("x", ZSets.W)))
    assert(pipe.adHoc("SELECT * FROM v1").as[Long].collect().toSet === Set(1L))
    assert(pipe.adHoc("SELECT * FROM v2").as[Long].collect().toSet === Set(2L))
  }

  test("append_only chain view rejects retractions instead of corrupting") {
    val sql =
      """CREATE TABLE metrics (k VARCHAR, v BIGINT) WITH ('append_only' = 'true');
        |CREATE VIEW extremes AS
        |  SELECT k, MIN(v) AS mn FROM metrics GROUP BY k;""".stripMargin
    val pipe = Pipeline(spark, sql)
    pipe.step(Map("metrics" -> ZSets.lift(Seq(("a", 5L)).toDF("k", "v"))))
    // the door-level append_only guard fires first (raise_error inside
    // the consolidate evaluation), ahead of the chain rule's own check
    val e = intercept[Exception] {
      pipe.step(Map("metrics" -> Seq(("a", 5L, -1L)).toDF("k", "v", ZSets.W)))
    }
    assert(e.getMessage.contains("append_only") ||
      e.getCause != null && e.getCause.getMessage.contains("append_only"), e)
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

  test("out-of-order seeding: term pruning for never-populated legs " +
      "stays exact when relations arrive in any step order") {
    // termLegsLive skips telescoping terms whose snapshot leg has never
    // integrated a delta; this must be a pure optimization — a join view
    // fed facts-then-dims, dims-then-facts, or everything-at-once must
    // converge to the same content (and to the batch recompute)
    val prog =
      """CREATE TABLE orders (o_id BIGINT NOT NULL, o_cust BIGINT,
        | o_amt DOUBLE);
        |CREATE TABLE customer (c_id BIGINT NOT NULL, c_name VARCHAR);
        |CREATE VIEW joined AS
        |  SELECT o.o_id, o.o_amt, c.c_name
        |  FROM orders o JOIN customer c ON o.o_cust = c.c_id;
        |CREATE VIEW spend AS
        |  SELECT c_name, COUNT(*) AS n, SUM(o_amt) AS total
        |  FROM orders JOIN customer ON o_cust = c_id
        |  GROUP BY c_name;""".stripMargin
    val o = orders(400).localCheckpoint(true)
    val c = customers(60).localCheckpoint(true)
    def contentsOf(schedules: Seq[Map[String, DataFrame]])
        : (Set[String], Set[String]) = {
      val p = Pipeline(spark, prog)
      schedules.foreach(p.step)
      (p.adHoc("SELECT * FROM joined").collect().map(_.toString).toSet,
        p.adHoc("SELECT * FROM spend").collect().map(_.toString).toSet)
    }
    // facts first (the join leg for customer is unseeded — every term
    // must prune to empty, not fail), dims later with a fact retraction
    val factsFirst = contentsOf(Seq(
      Map("orders" -> ZSets.lift(o)),
      Map("customer" -> ZSets.lift(c),
        "orders" -> ZSets.negate(ZSets.lift(o.filter(col("o_id") % 7 === 0))))))
    // dims first, then facts minus the same slice
    val dimsFirst = contentsOf(Seq(
      Map("customer" -> ZSets.lift(c)),
      Map("orders" -> ZSets.lift(o.filter(col("o_id") % 7 =!= 0)))))
    // one-shot seed
    val oneShot = contentsOf(Seq(
      Map("customer" -> ZSets.lift(c),
        "orders" -> ZSets.lift(o.filter(col("o_id") % 7 =!= 0)))))
    assert(factsFirst === dimsFirst)
    assert(dimsFirst === oneShot)
    // and equals batch recompute
    val want = o.filter(col("o_id") % 7 =!= 0).as("o")
      .join(c.as("c"), col("o.o_cust") === col("c.c_id"))
      .select(col("o_id"), col("o_amt"), col("c_name"))
      .collect().map(_.toString).toSet
    assert(factsFirst._1 === want)
  }

  test("step shuffle volume is independent of snapshot size (IVM contract)") {
    // program without the Opaque view (recompute-and-diff is O(state) by
    // design); add an aggregate-over-join so the composite shape is under
    // the meter too
    val ivmOnly = programSql.split('\n')
      .takeWhile(!_.contains("opaque_topk")).mkString("\n").stripSuffix(";") +
      """;
        |CREATE VIEW spend AS
        |  SELECT c_name, COUNT(*) AS n, SUM(o_amt) AS total
        |  FROM orders JOIN customer ON o_cust = c_id GROUP BY c_name;"""
        .stripMargin
    def seeded(n: Int): Pipeline = {
      val p = Pipeline(spark, ivmOnly)
      p.step(Map("orders" -> ZSets.lift(orders(n)),
        "customer" -> ZSets.lift(customers(60))))
      p
    }
    val delta = ZSets.lift(orders(12).withColumn("o_id", col("o_id") + 1000000))
      .localCheckpoint(true)
    def one(p: Pipeline): Unit = p.step(Map("orders" -> delta))
    val small = { val p = seeded(2000); meter(one(p)) }
    val large = { val p = seeded(40000); meter(one(p)) }
    assert(large <= small + 100,
      s"step shuffle grew with snapshot: small=$small large=$large")
  }
}
