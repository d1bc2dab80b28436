package graft

import org.apache.spark.sql.functions._
import graft.ddl.Ddl
import graft.runtime.Pipeline
import graft.types.SqlTypes
import graft.zset.ZSets

/** End-to-end program slice (SURVEY §7.2): DDL → pipeline → batch AND
  * incremental evaluation with the final-state-equals-batch assertion.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val programSql =
    """CREATE TABLE lineitem (
      |  l_orderkey BIGINT NOT NULL,
      |  l_quantity DOUBLE,
      |  l_returnflag VARCHAR,
      |  l_shipdate TIMESTAMP
      |) WITH ('materialized' = 'true');
      |CREATE LOCAL VIEW restricted AS
      |  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity < 40;
      |CREATE MATERIALIZED VIEW qty_by_flag AS
      |  SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |         COUNT(*) AS n
      |  FROM restricted GROUP BY l_returnflag;""".stripMargin

  test("DDL parse extracts tables, PK/LATENESS, view kinds") {
    // LATENESS-annotated variant: the shared program feeds out-of-order
    // batches, so it intentionally declares none (the gate would discard)
    val p = Ddl.parse(programSql.replace("l_shipdate TIMESTAMP",
      "l_shipdate TIMESTAMP LATENESS INTERVAL 1 DAY"))
    assert(p.tables.map(_.name) === Seq("lineitem"))
    val t = p.tables.head
    assert(t.materialized)
    assert(t.columns.find(_.name == "l_shipdate").get.lateness
      === Some("INTERVAL 1 DAY"))
    assert(t.columns.find(_.name == "l_orderkey").get.notNull)
    assert(p.views.map(v => v.name -> v.kind) === Seq(
      "restricted" -> Ddl.LocalView,
      "qty_by_flag" -> Ddl.MaterializedView))
    assert(SqlTypes.toSpark(t.columns.head.sqlType)
      === org.apache.spark.sql.types.LongType)
  }

  test("incremental steps converge to batch recompute (core contract)") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    val pipe = Pipeline(spark, programSql)

    // batch reference over the final snapshot (rows with %10 != 0)
    val expected = pipe.runBatch(Map("lineitem" ->
      li.filter(col("l_orderkey") % 10 =!= 0)))("qty_by_flag")
      .as[(String, Double, Long)].collect().toSet

    // delta schedule: 2 insert batches + retraction batch
    val pipe2 = Pipeline(spark, programSql)
    val deltas = Seq(
      ZSets.lift(li.filter(col("l_orderkey") % 2 === 0)),
      ZSets.lift(li.filter(col("l_orderkey") % 2 === 1)),
      ZSets.negate(ZSets.lift(li.filter(col("l_orderkey") % 10 === 0))))
    var outs: Map[String, org.apache.spark.sql.DataFrame] = Map.empty
    deltas.foreach(d => outs = pipe2.step(Map("lineitem" -> d)))

    // 1) final materialized view equals batch
    val got = pipe2.adHoc("SELECT * FROM qty_by_flag")
      .as[(String, Double, Long)].collect().toSet
    assert(got === expected)

    // 2) integrating all emitted output deltas also equals batch
    //    (we check the last step's delta applied over the previous state
    //    implicitly via 1; here check deltas are retraction-formed)
    val lastDelta = outs("qty_by_flag")
    assert(lastDelta.filter(col(ZSets.W) === 0).count() === 0)
  }

  test("program-declared CREATE FUNCTION and CREATE TYPE are usable") {
    val prog =
      """CREATE TYPE money AS DECIMAL(18, 4);
        |CREATE FUNCTION with_tax(amount DOUBLE) RETURNS DOUBLE AS amount * 1.2;
        |CREATE TABLE sales (s_id BIGINT, s_amt money);
        |CREATE VIEW taxed AS SELECT s_id, with_tax(CAST(s_amt AS DOUBLE)) AS t FROM sales;""".stripMargin
    val parsed = Ddl.parse(prog)
    assert(parsed.functions ===
      Seq(Ddl.FunctionDef("with_tax", "amount DOUBLE", "DOUBLE",
        Some("amount * 1.2"))))
    assert(parsed.types === Seq(Ddl.TypeDef("money", "DECIMAL(18, 4)")))
    val pipe = Pipeline(spark, prog)
    assert(SqlTypes.toSpark("money")
      === org.apache.spark.sql.types.DecimalType(18, 4))
    val out = pipe.step(Map("sales" -> ZSets.lift(
      Seq((1L, BigDecimal(10))).toDF("s_id", "s_amt"))))("taxed")
    assert(out.select("t").as[Double].head() === 12.0)
  }

  test("type aliases resolve only in type positions: a string literal " +
    "and a parameter named like the type survive") {
    val prog =
      """CREATE TYPE money AS DECIMAL(18, 4);
        |CREATE FUNCTION tag(money DOUBLE) RETURNS STRING
        |  AS CONCAT('money=', CAST(CAST(money AS money) AS STRING));
        |CREATE TABLE sales (s_id BIGINT, s_amt DOUBLE);
        |CREATE VIEW tagged AS SELECT s_id, tag(s_amt) AS t FROM sales;""".stripMargin
    val pipe = Pipeline(spark, prog)
    val out = pipe.step(Map("sales" -> ZSets.lift(
      Seq((1L, 2.5)).toDF("s_id", "s_amt"))))("tagged")
    // the literal 'money=' is untouched; the parameter keeps its name;
    // only CAST(... AS money) resolved to DECIMAL(18,4) (scale 4 digits)
    assert(out.select("t").as[String].head() === "money=2.5000")
  }

  test("PRIMARY KEY tables accept upsert batches: overwrite + delete") {
    val prog =
      """CREATE TABLE kv (k BIGINT NOT NULL PRIMARY KEY, v VARCHAR);
        |CREATE VIEW vals AS SELECT k, v FROM kv;""".stripMargin
    val pipe = Pipeline(spark, prog)
    def batch(rows: Seq[(Long, String, Boolean)]) =
      rows.toDF("k", "v", "_deleted")
    pipe.step(Map("kv" -> batch(Seq(
      (1L, "a", false), (2L, "b", false)))))
    // overwrite k=1, delete k=2, insert k=3 — last-writer-wins snapshot
    val d = pipe.step(Map("kv" -> batch(Seq(
      (1L, "a2", false), (2L, null, true), (3L, "c", false)))))("vals")
    assert(d.filter(col(ZSets.W) < 0).select("k", "v")
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(pipe.adHoc("SELECT * FROM vals").as[(Long, String)]
      .collect().toSet === Set((1L, "a2"), (3L, "c")))
  }

  test("DECLARE RECURSIVE VIEW: closure via DDL, batch and step agree") {
    val prog =
      """CREATE TABLE edges (src BIGINT, dst BIGINT);
        |DECLARE RECURSIVE VIEW closure (src BIGINT, dst BIGINT);
        |CREATE VIEW closure AS
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src;
        |CREATE VIEW reach_count AS
        |  SELECT src, COUNT(*) AS n FROM closure GROUP BY src;""".stripMargin
    def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")
    val expected = Set((1L, 2L), (2L, 3L), (3L, 4L),
      (1L, 3L), (2L, 4L), (1L, 4L))

    // batch mode
    val batch = Pipeline(spark, prog)
      .runBatch(Map("edges" -> edges(1L -> 2L, 2L -> 3L, 3L -> 4L)))
    assert(batch("closure").as[(Long, Long)].collect().toSet === expected)
    assert(batch("reach_count").as[(Long, Long)].collect().toSet
      === Set((1L, 3L), (2L, 2L), (3L, 1L)))

    // step mode: two inserts then a retraction that splits the chain
    val pipe = Pipeline(spark, prog)
    pipe.step(Map("edges" -> ZSets.lift(edges(1L -> 2L, 2L -> 3L))))
    val d2 = pipe.step(Map("edges" -> ZSets.lift(edges(3L -> 4L))))
    assert(d2("closure").filter(col(ZSets.W) > 0).drop(ZSets.W)
      .as[(Long, Long)].collect().toSet
      === Set((3L, 4L), (2L, 4L), (1L, 4L)))
    assert(pipe.adHoc("SELECT * FROM closure").as[(Long, Long)]
      .collect().toSet === expected)
    // retract 2→3: everything crossing it must retract (non-monotone step)
    val d3 = pipe.step(Map("edges" ->
      ZSets.negate(ZSets.lift(edges(2L -> 3L)))))
    assert(d3("closure").filter(col(ZSets.W) < 0).drop(ZSets.W)
      .as[(Long, Long)].collect().toSet
      === Set((2L, 3L), (1L, 3L), (2L, 4L), (1L, 4L)))
    assert(pipe.adHoc("SELECT * FROM closure").as[(Long, Long)]
      .collect().toSet === Set((1L, 2L), (3L, 4L)))
    // downstream non-recursive view tracked the group
    assert(pipe.adHoc("SELECT * FROM reach_count").as[(Long, Long)]
      .collect().toSet === Set((1L, 1L), (3L, 1L)))
  }

  test("DECLARE RECURSIVE VIEW: mutually recursive pair via DDL") {
    val prog =
      """CREATE TABLE edges (src BIGINT, dst BIGINT);
        |DECLARE RECURSIVE VIEW even_r (n BIGINT);
        |DECLARE RECURSIVE VIEW odd_r (n BIGINT);
        |CREATE VIEW even_r AS
        |  SELECT CAST(0 AS BIGINT) AS n
        |  UNION
        |  SELECT e.dst AS n FROM odd_r o JOIN edges e ON o.n = e.src;
        |CREATE VIEW odd_r AS
        |  SELECT e.dst AS n FROM even_r v JOIN edges e ON v.n = e.src;""".stripMargin
    val out = Pipeline(spark, prog).runBatch(Map("edges" ->
      Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")))
    assert(out("even_r").as[Long].collect().toSet === Set(0L, 2L))
    assert(out("odd_r").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("NOW() views re-evaluate on clock advance (temporal filter expiry)") {
    val prog =
      """CREATE TABLE ev (ts TIMESTAMP, v BIGINT);
        |CREATE VIEW recent AS
        |  SELECT v FROM ev WHERE ts >= NOW() - INTERVAL 100 SECONDS;""".stripMargin
    val pipe = Pipeline(spark, prog)
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val d1 = {
      pipe.advanceClock(ts(100)) // set the step clock first
      pipe.step(Map("ev" -> ZSets.lift(
        Seq((ts(10), 1L), (ts(50), 2L), (ts(90), 3L)).toDF("ts", "v"))))
    }
    // at clock 100 the window is [0, ∞): all three rows visible
    assert(d1("recent").filter(col(ZSets.W) > 0).count() === 3)
    // advance to 160: window [60, ∞) — rows at 10 and 50 must RETRACT
    val d2 = pipe.advanceClock(ts(160))("recent")
    assert(d2.filter(col(ZSets.W) < 0).select("v").as[Long].collect().toSet
      === Set(1L, 2L))
    assert(pipe.adHoc("SELECT v FROM recent").as[Long].collect().toSet
      === Set(3L))
  }

  test("connector properties with commas and escaped quotes parse") {
    val p = Ddl.parse(
      """CREATE TABLE t (x BIGINT) WITH (
        |  'connectors' = '[{"a": 1, "b": 2}]',
        |  'note' = 'it''s, quoted');""".stripMargin)
    assert(p.tables.head.properties === Map(
      "connectors" -> """[{"a": 1, "b": 2}]""",
      "note" -> "it's, quoted"))
  }

  test("ad-hoc queries see materialized views and registered functions") {
    val pipe = Pipeline(spark, programSql)
    pipe.step(Map("lineitem" -> ZSets.lift(
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))))
    val n = pipe.adHoc(
      "SELECT sec(0.0) AS s, timestamp_trunc(TIMESTAMP '2024-02-15 10:30:00', 'month') AS m, count(*) AS c FROM qty_by_flag")
      .as[(Double, java.sql.Timestamp, Long)].head()
    assert(n._1 === 1.0)
    assert(n._2.toString.startsWith("2024-02-01"))
    assert(n._3 > 0)
  }

  test("ad-hoc INSERT routes rows through a step; views update") {
    val pipe = Pipeline(spark, programSql)
    pipe.step(Map("lineitem" -> ZSets.lift(
      Seq((1L, 10.0, "A", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))))
    // VALUES form: two rows into the A group (one filtered out by the
    // restricted view's quantity < 40 predicate)
    val ins = pipe.adHoc(
      "INSERT INTO lineitem VALUES " +
        "(2, 20.0, 'A', TIMESTAMP '2024-01-02 00:00:00'), " +
        "(3, 99.0, 'A', TIMESTAMP '2024-01-02 00:00:00')")
      .as[Long].head()
    assert(ins === 2L)
    val afterValues = pipe.adHoc(
      "SELECT sum_qty, n FROM qty_by_flag WHERE l_returnflag = 'A'")
      .as[(Double, Long)].head()
    assert(afterValues === ((30.0, 2L))) // 10 + 20; 99 filtered
    // INSERT … SELECT reads the pipeline's own stepped state
    val ins2 = pipe.adHoc(
      "INSERT INTO lineitem SELECT l_orderkey + 100, l_quantity, " +
        "l_returnflag, l_shipdate FROM lineitem WHERE l_quantity < 15")
      .as[Long].head()
    assert(ins2 === 1L) // only the quantity-10 row
    val afterSelect = pipe.adHoc(
      "SELECT sum_qty, n FROM qty_by_flag WHERE l_returnflag = 'A'")
      .as[(Double, Long)].head()
    assert(afterSelect === ((40.0, 3L)))
    // batch contract: stepped view state equals a from-scratch recompute
    val batch = pipe.adHoc(
      "SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) " +
        "FROM lineitem WHERE l_quantity < 40 AND l_returnflag = 'A'")
      .as[Double].head()
    assert(batch === 40.0)
  }

  test("LATENESS discards violating rows into ERROR_VIEW, per chunk") {
    // the tutorial's purchase example (time-series.md:163-195): 1-hour
    // lateness, five single-row chunks; only the fifth violates
    val pipe = Pipeline(spark,
      """CREATE TABLE purchase (
        |  id BIGINT,
        |  ts TIMESTAMP LATENESS INTERVAL 1 HOUR,
        |  amount BIGINT
        |);
        |CREATE VIEW total AS SELECT SUM(amount) AS s FROM purchase;
        |""".stripMargin)
    def ins(ts: String, amount: Long): Unit =
      pipe.step(Map("purchase" -> ZSets.lift(
        Seq((1L, java.sql.Timestamp.valueOf(ts), amount))
          .toDF("id", "ts", "amount"))))
    ins("2020-01-01 00:00:00", 10)
    ins("2020-01-01 01:00:00", 20)
    // late but within the bound (50 min behind the 01:00 max)
    ins("2020-01-01 00:10:00", 15)
    ins("2020-01-01 02:00:00", 12)
    // 100 min behind the 02:00 max: violates, discarded
    ins("2020-01-01 00:20:00", 65)
    assert(pipe.adHoc("SELECT s FROM total").as[Long].head() === 57L)
    val errs = pipe.adHoc(
      "SELECT table_or_view_name, metadata FROM error_view")
      .as[(String, String)].collect()
    assert(errs.length === 1)
    assert(errs.head._1 === "purchase")
    assert(errs.head._2.contains("00:20:00") && errs.head._2.contains("65"))
    // waterline advances AFTER a chunk: one chunk mixing a fresh row and
    // a row late only relative to ITS OWN sibling keeps both (soft bound)
    pipe.step(Map("purchase" -> ZSets.lift(
      Seq(
        (2L, java.sql.Timestamp.valueOf("2020-01-01 05:00:00"), 1L),
        (2L, java.sql.Timestamp.valueOf("2020-01-01 01:30:00"), 2L))
        .toDF("id", "ts", "amount"))))
    assert(pipe.adHoc("SELECT s FROM total").as[Long].head() === 60L)
    // but the next chunk is judged against the advanced 04:00 waterline
    ins("2020-01-01 01:30:00", 100)
    assert(pipe.adHoc("SELECT s FROM total").as[Long].head() === 60L)
    assert(pipe.adHoc("SELECT count(*) FROM error_view")
      .as[Long].head() === 2L)
  }

  test("LATENESS statement gates a VIEW column parsed from raw payloads") {
    // the time-series.md motivation: the timestamp only exists after the
    // view parses it out of the raw payload, so lateness rides the VIEW
    val pipe = Pipeline(spark,
      """CREATE TABLE raw_ev (payload VARCHAR);
        |CREATE LOCAL VIEW parsed AS
        |  SELECT CAST(split_part(payload, '|', 1) AS TIMESTAMP) AS ts,
        |         CAST(split_part(payload, '|', 2) AS BIGINT) AS amount
        |  FROM raw_ev;
        |LATENESS parsed.ts INTERVAL 1 HOUR;
        |CREATE VIEW total AS SELECT SUM(amount) AS s FROM parsed;
        |""".stripMargin)
    def ins(ts: String, amount: Long): Unit =
      pipe.step(Map("raw_ev" -> ZSets.lift(
        Seq(s"$ts|$amount").toDF("payload"))))
    ins("2020-01-01 00:00:00", 10)
    ins("2020-01-01 02:00:00", 12)
    // 100 min behind the 02:00 waterline: discarded from the VIEW delta,
    // so the downstream aggregate never sees it
    ins("2020-01-01 00:20:00", 65)
    assert(pipe.adHoc("SELECT s FROM total").as[Long].head() === 22L)
    val errs = pipe.adHoc(
      "SELECT table_or_view_name, metadata FROM error_view")
      .as[(String, String)].collect()
    assert(errs.length === 1)
    assert(errs.head._1 === "parsed" && errs.head._2.contains("65"))
  }

  test("emit_final waits only on tables the view reads, not on names " +
      "inside string literals") {
    // `kind <> 'u'` spells table u only inside a literal; u never
    // receives data, so counting it as an input would hold every group
    val pipe = Pipeline(spark,
      """CREATE TABLE t (ts INT NOT NULL LATENESS 2, kind VARCHAR);
        |CREATE TABLE u (ts INT NOT NULL LATENESS 2);
        |CREATE VIEW v WITH ('emit_final' = 'ts') AS
        |  SELECT ts, COUNT(*) AS n FROM t WHERE kind <> 'u' GROUP BY ts;
        |""".stripMargin)
    def ins(ts: Int*): org.apache.spark.sql.DataFrame =
      pipe.step(Map("t" -> ZSets.lift(
        ts.map(i => (i, "a")).toDF("ts", "kind"))))("v")
    assert(ins(0, 1).isEmpty)
    assert(ins(1, 2).isEmpty)
    // waterline 5 - 2 = 3: groups 0, 1 and 2 are final
    assert(ins(4, 5).as[(Int, Long, Long)].collect().toSet ===
      Set((0, 1L, 1L), (1, 2L, 1L), (2, 1L, 1L)))
  }

  test("append_only tables reject deletions at the door") {
    val pipe = Pipeline(spark,
      """CREATE TABLE log (k BIGINT, v BIGINT)
        |WITH ('append_only' = 'true');
        |CREATE VIEW hi AS SELECT k, MAX(v) AS mx FROM log GROUP BY k;
        |""".stripMargin)
    pipe.step(Map("log" -> ZSets.lift(
      Seq((1L, 10L), (1L, 20L)).toDF("k", "v"))))
    assert(pipe.adHoc("SELECT mx FROM hi").as[Long].head() === 20L)
    // a retraction violates the declared contract: fail, don't corrupt
    val err = intercept[Exception] {
      pipe.step(Map("log" -> ZSets.negate(ZSets.lift(
        Seq((1L, 20L)).toDF("k", "v")))))
    }
    assert(err.getMessage != null)
    // inserts keep flowing after the rejected batch
    pipe.step(Map("log" -> ZSets.lift(Seq((1L, 30L)).toDF("k", "v"))))
    assert(pipe.adHoc("SELECT mx FROM hi").as[Long].head() === 30L)
  }

  test("ad-hoc PREPARE/EXECUTE binds positional literals in one request") {
    val pipe = Pipeline(spark, programSql)
    pipe.step(Map("lineitem" -> ZSets.lift(
      Seq(
        (1L, 10.0, "A", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, 20.0, "B", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
        (3L, 30.0, "A", java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
        .toDF("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))))
    // the doc's shape: PREPARE q AS ...; EXECUTE q('...') in one request
    val got = pipe.adHoc(
      "prepare q AS SELECT l_orderkey FROM lineitem " +
        "WHERE l_returnflag = $1 AND l_quantity > $2 ORDER BY 1;\n" +
        "EXECUTE q('A', 5)")
      .as[Long].collect().toSeq
    assert(got === Seq(1L, 3L))
    // $k inside a string literal is data, not a parameter; quoted commas
    // survive the argument split; $2 may bind before $1
    val lit = pipe.adHoc(
      "PREPARE p AS SELECT concat('$1,', $2, '-', $1) AS s;" +
        "EXECUTE p('x,''y', 'z')")
      .as[String].head()
    assert(lit === "$1,z-x,'y")
    // EXECUTE routes INSERT through a real step: views update
    pipe.adHoc(
      "PREPARE ins AS INSERT INTO lineitem VALUES " +
        "($1, $2, 'A', TIMESTAMP '2024-01-04 00:00:00');" +
        "EXECUTE ins(7, 15.0)")
    assert(pipe.adHoc(
      "SELECT n FROM qty_by_flag WHERE l_returnflag = 'A'")
      .as[Long].head() === 3L)
    // name mismatch and out-of-range parameters fail fast
    assertThrows[IllegalArgumentException](
      pipe.adHoc("PREPARE a AS SELECT 1; EXECUTE b()"))
    assertThrows[IllegalArgumentException](
      pipe.adHoc("PREPARE a AS SELECT $2; EXECUTE a(1)"))
  }
}
