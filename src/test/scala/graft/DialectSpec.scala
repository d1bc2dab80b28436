package graft

import graft.ddl.{Ddl, Dialect}
import graft.runtime.Pipeline
import graft.zset.ZSets

/** Reference-dialect spellings mapped onto Spark's surface
  * (grammar.md:403-444 `SELECT * EXCLUDE`, :482-497 UNPIVOT).
  */
class DialectSpec extends SparkSpec {
  import spark.implicits._

  test("normalize maps EXCLUDE/INCLUDING-NULLS spellings, not lookalikes") {
    assert(Dialect.normalize("SELECT * EXCLUDE (a, b) FROM t")
      === "SELECT * EXCEPT (a, b) FROM t")
    assert(Dialect.normalize("SELECT t.* EXCLUDE(a) FROM t")
      === "SELECT t.* EXCEPT(a) FROM t")
    assert(Dialect.normalize(
      "FROM t UNPIVOT INCLUDING NULLS (v FOR m IN (a, b))")
      === "FROM t UNPIVOT INCLUDE NULLS (v FOR m IN (a, b))")
    assert(Dialect.normalize(
      "FROM t UNPIVOT EXCLUDING NULLS (v FOR m IN (a))")
      === "FROM t UNPIVOT EXCLUDE NULLS (v FOR m IN (a))")
    // a function/column named exclude, and string literals, are untouched
    assert(Dialect.normalize("SELECT exclude(x) FROM t")
      === "SELECT exclude(x) FROM t")
    assert(Dialect.normalize("SELECT '* EXCLUDE (a)' FROM t")
      === "SELECT '* EXCLUDE (a)' FROM t")
  }

  test("SELECT * EXCLUDE view prunes columns through the pipeline") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (a BIGINT, b VARCHAR, c DOUBLE);
        |CREATE VIEW v AS SELECT * EXCLUDE (c) FROM t;""".stripMargin)
    pipe.step(Map("t" -> ZSets.lift(
      Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("a", "b", "c"))))
    val out = pipe.adHoc("SELECT * FROM v ORDER BY a")
    assert(out.columns.toSeq === Seq("a", "b"))
    assert(out.as[(Long, String)].collect().toSeq
      === Seq((1L, "x"), (2L, "y")))
  }

  test("UNPIVOT INCLUDING NULLS view keeps null-measure rows") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (id BIGINT, k1 BIGINT, k2 BIGINT);
        |CREATE VIEW u AS
        |  SELECT metric, COUNT(*) AS n, COUNT(val) AS nv FROM t
        |  UNPIVOT INCLUDING NULLS (val FOR metric IN (k1, k2))
        |  GROUP BY metric;
        |CREATE VIEW x AS
        |  SELECT metric, COUNT(*) AS n FROM t
        |  UNPIVOT EXCLUDING NULLS (val FOR metric IN (k1, k2))
        |  GROUP BY metric;""".stripMargin)
    pipe.step(Map("t" -> ZSets.lift(
      Seq((1L, Some(10L), None: Option[Long]),
        (2L, Some(20L), Some(30L))).toDF("id", "k1", "k2"))))
    val incl = pipe.adHoc("SELECT * FROM u ORDER BY metric")
      .as[(String, Long, Long)].collect().toSeq
    assert(incl === Seq(("k1", 2L, 2L), ("k2", 2L, 1L)))
    val excl = pipe.adHoc("SELECT * FROM x ORDER BY metric")
      .as[(String, Long)].collect().toSeq
    assert(excl === Seq(("k1", 2L), ("k2", 1L)))
  }

  test("SELECT * REPLACE swaps the expression in place, order preserved") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (a BIGINT, b VARCHAR, c BIGINT);
        |CREATE VIEW v AS SELECT * REPLACE (a + c AS a, upper(b) AS b)
        |  FROM t WHERE c > 0;""".stripMargin)
    pipe.step(Map("t" -> ZSets.lift(
      Seq((1L, "x", 10L), (2L, "y", -1L)).toDF("a", "b", "c"))))
    val out = pipe.adHoc("SELECT * FROM v")
    // replaced columns keep their ORIGINAL positions (a, b, c)
    assert(out.columns.toSeq === Seq("a", "b", "c"))
    assert(out.as[(Long, String, Long)].collect().toSeq
      === Seq((11L, "X", 10L)))
    // ad-hoc REPLACE against live state works too
    val ad = pipe.adHoc("SELECT * REPLACE (c * 2 AS c) FROM t WHERE a = 1")
    assert(ad.columns.toSeq === Seq("a", "b", "c"))
    assert(ad.as[(Long, String, Long)].head() === ((1L, "x", 20L)))
    // a REPLACE naming a column the star does not produce fails loudly
    val e = intercept[IllegalArgumentException](
      pipe.adHoc("SELECT * REPLACE (1 AS nope) FROM t"))
    assert(e.getMessage.contains("nope"))
  }

  test("ROW constructor maps to struct, including ROW(T.*)") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (a BIGINT, b VARCHAR);
        |CREATE VIEW v AS
        |  SELECT r.a AS ra, r.b AS rb FROM
        |    (SELECT ROW(t.*) AS r FROM t) x;
        |CREATE VIEW w AS
        |  SELECT ROW(a, b).a AS ra FROM t;""".stripMargin)
    pipe.step(Map("t" -> ZSets.lift(Seq((7L, "z")).toDF("a", "b"))))
    assert(pipe.adHoc("SELECT * FROM v").as[(Long, String)].head()
      === ((7L, "z")))
    assert(pipe.adHoc("SELECT * FROM w").as[Long].head() === 7L)
    // ROWS frames / ROW_NUMBER spellings survive untouched
    assert(Dialect.normalize(
      "SUM(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
      === "SUM(x) OVER (ORDER BY y ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    assert(Dialect.normalize("ROW_NUMBER() OVER (ORDER BY y)")
      === "ROW_NUMBER() OVER (ORDER BY y)")
    assert(Dialect.normalize("SELECT ROW(a, b) FROM t")
      === "SELECT struct(a, b) FROM t")
  }

  test("CROSS/OUTER APPLY map to lateral joins, string literals safe") {
    assert(Dialect.normalize("FROM t CROSS APPLY (SELECT t.a + 1 AS b) s")
      === "FROM t CROSS JOIN LATERAL (SELECT t.a + 1 AS b) s")
    assert(Dialect.normalize("FROM t OUTER APPLY (SELECT u.x FROM u WHERE u.k = t.k) s")
      === "FROM t LEFT OUTER JOIN LATERAL (SELECT u.x FROM u WHERE u.k = t.k) s ON TRUE")
    // alias-free and AS forms; a literal containing ')' inside the body
    assert(Dialect.normalize("FROM t OUTER APPLY (SELECT ') ' AS x) AS s WHERE 1=1")
      === "FROM t LEFT OUTER JOIN LATERAL (SELECT ') ' AS x) AS s ON TRUE WHERE 1=1")
    assert(Dialect.normalize("FROM t OUTER APPLY (SELECT 1 AS x) WHERE b > 0")
      === "FROM t LEFT OUTER JOIN LATERAL (SELECT 1 AS x) ON TRUE WHERE b > 0")
    // the keyword inside a string literal is data
    assert(Dialect.normalize("SELECT 'OUTER APPLY (x)' FROM t")
      === "SELECT 'OUTER APPLY (x)' FROM t")
  }

  test("APPLY joins run end-to-end through the pipeline") {
    val pipe = Pipeline(spark,
      """CREATE TABLE r (rk BIGINT);
        |CREATE TABLE n (nk BIGINT, rk BIGINT, nm VARCHAR);
        |CREATE VIEW agg AS
        |  SELECT r.rk, s.cnt, s.mx FROM r CROSS APPLY (
        |    SELECT COUNT(*) AS cnt, MAX(n.nm) AS mx
        |    FROM n WHERE n.rk = r.rk) s;
        |CREATE VIEW oa AS
        |  SELECT r.rk, s.nk FROM r OUTER APPLY (
        |    SELECT n.nk FROM n WHERE n.rk = r.rk AND n.nk > 10) s;"""
        .stripMargin)
    pipe.step(Map(
      "r" -> ZSets.lift(Seq(1L, 2L).toDF("rk")),
      "n" -> ZSets.lift(Seq((11L, 1L, "a"), (12L, 1L, "b"), (5L, 2L, "c"))
        .toDF("nk", "rk", "nm"))))
    val agg = pipe.adHoc("SELECT * FROM agg ORDER BY rk")
      .as[(Long, Long, String)].collect().toSeq
    assert(agg === Seq((1L, 2L, "b"), (2L, 1L, "c")))
    // rk=2 has no nk>10 → null-extended by OUTER APPLY
    val oa = pipe.adHoc("SELECT * FROM oa ORDER BY rk, nk")
      .as[(Long, Option[Long])].collect().toSeq
    assert(oa === Seq((1L, Some(11L)), (1L, Some(12L)), (2L, None)))
  }

  test("QUALIFY lowers to a filtered subquery; FETCH maps to LIMIT") {
    // window-alias reference in the predicate inlines the expression
    assert(Dialect.normalize(
      "SELECT k, ROW_NUMBER() OVER (ORDER BY x) AS r FROM t QUALIFY r = 1")
      === "SELECT * EXCEPT (__q) FROM (SELECT k, ROW_NUMBER() OVER " +
        "(ORDER BY x) AS r, ((ROW_NUMBER() OVER (ORDER BY x)) = 1) AS __q " +
        "FROM t) __qualify WHERE __q")
    // trailing clauses stay outside the lowered block
    assert(Dialect.normalize(
      "SELECT k FROM t QUALIFY SUM(x) OVER () > 2 ORDER BY k LIMIT 3")
      === "SELECT * EXCEPT (__q) FROM (SELECT k, (SUM(x) OVER () > 2) " +
        "AS __q FROM t) __qualify WHERE __q ORDER BY k LIMIT 3")
    // ANSI FETCH spellings
    assert(Dialect.normalize("SELECT k FROM t ORDER BY k FETCH FIRST 5 ROWS ONLY")
      === "SELECT k FROM t ORDER BY k LIMIT 5")
    assert(Dialect.normalize("SELECT k FROM t ORDER BY k FETCH NEXT ROW ONLY")
      === "SELECT k FROM t ORDER BY k LIMIT 1")
    assert(Dialect.normalize(
      "SELECT k FROM t ORDER BY k OFFSET 2 ROWS FETCH NEXT 5 ROWS ONLY")
      === "SELECT k FROM t ORDER BY k LIMIT 5 OFFSET 2")
    assert(Dialect.normalize("SELECT k FROM t ORDER BY k OFFSET 2 ROWS")
      === "SELECT k FROM t ORDER BY k OFFSET 2")
  }

  test("QUALIFY runs end-to-end; GROUP/ORDER BY ALL pass through") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (k BIGINT, g VARCHAR, x BIGINT);
        |CREATE VIEW topper AS
        |  SELECT g, k FROM t
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY x DESC, k) = 1;
        |CREATE VIEW byall AS
        |  SELECT g, COUNT(*) AS n, SUM(x) AS sx FROM t
        |  GROUP BY ALL ORDER BY ALL;
        |CREATE VIEW fetched AS
        |  SELECT k FROM t ORDER BY k OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY;"""
        .stripMargin)
    pipe.step(Map("t" -> ZSets.lift(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "b", 5L))
        .toDF("k", "g", "x"))))
    assert(pipe.adHoc("SELECT * FROM topper ORDER BY g")
      .as[(String, Long)].collect().toSeq === Seq(("a", 2L), ("b", 3L)))
    assert(pipe.adHoc("SELECT * FROM byall ORDER BY g")
      .as[(String, Long, Long)].collect().toSeq
      === Seq(("a", 2L, 30L), ("b", 2L, 10L)))
    assert(pipe.adHoc("SELECT * FROM fetched ORDER BY k")
      .as[Long].collect().toSeq === Seq(2L, 3L))
  }

  test("LIMIT start,count / LIMIT ALL / MINUS spellings") {
    assert(Dialect.normalize("SELECT k FROM t ORDER BY k LIMIT 3, 5")
      === "SELECT k FROM t ORDER BY k LIMIT 5 OFFSET 3")
    assert(Dialect.normalize("SELECT k FROM t ORDER BY k LIMIT ALL")
      === "SELECT k FROM t ORDER BY k")
    // MINUS is native in both Spark and DuckDB — pass-through
    assert(Dialect.normalize("SELECT k FROM a MINUS SELECT k FROM b")
      === "SELECT k FROM a MINUS SELECT k FROM b")
  }

  test("ASOF JOIN lowers to the union+window form (ops.AsofJoin shape)") {
    val lowered = Dialect.normalize(
      "SELECT l.k, r.v FROM l LEFT ASOF JOIN r " +
        "MATCH_CONDITION (l.ts >= r.ts) ON l.k = r.k")
    assert(lowered.startsWith("SELECT l.k, r.v FROM (SELECT __l.*, " +
      "__r.*, __l AS l, __r AS r FROM (SELECT __side, __l, " +
      "last(__r0, true) OVER (PARTITION BY __k0 ORDER BY __ts ASC " +
      "NULLS FIRST, __side ASC"), lowered)
    assert(lowered.contains("UNION ALL") &&
      lowered.contains("(r.ts) IS NOT NULL") &&
      lowered.endsWith("WHERE __side = 1) __asof_l_r"), lowered)
    assert(!lowered.contains("LATERAL"), lowered)
    // inner form keeps only matched probes; WHERE tail survives
    val inner = Dialect.normalize(
      "SELECT l.k FROM l ASOF JOIN r " +
        "MATCH_CONDITION (l.ts >= r.ts) ON l.k = r.k WHERE l.k > 0")
    assert(inner.contains("__side = 1 AND __r IS NOT NULL") &&
      inner.endsWith("WHERE l.k > 0"), inner)
    // the reversed MATCH_CONDITION (earliest following match) flips the
    // scan direction so it stays on the O(n) running frame
    val fwd = Dialect.normalize(
      "SELECT l.k FROM l LEFT ASOF JOIN r " +
        "MATCH_CONDITION (r.ts >= l.ts) ON l.k = r.k")
    assert(fwd.contains("ORDER BY __ts DESC NULLS FIRST"), fwd)
    // bare * over exactly this FROM item expands to both aliases
    val star = Dialect.normalize(
      "SELECT * FROM l LEFT ASOF JOIN r " +
        "MATCH_CONDITION (l.ts >= r.ts) ON l.k = r.k")
    assert(star.startsWith("SELECT l.*, r.* FROM (SELECT __l.*"), star)
    // shapes the union+window form cannot prove (non-equi ON) are a
    // loud ERROR by default — the quadratic lateral probe needs an
    // explicit SET asof_lateral_fallback = ON
    val unprovable = "SELECT l.k, r.v FROM l LEFT ASOF JOIN r " +
      "MATCH_CONDITION (l.ts >= r.ts) ON l.k >= r.k"
    val refusal = intercept[RuntimeException](
      Dialect.normalize(unprovable))
    assert(refusal.getMessage.contains("asof_lateral_fallback"),
      refusal.getMessage)
    assert(refusal.getMessage.contains("ASOF JOIN r"), refusal.getMessage)
    val noneq = Dialect.normalize(unprovable, adHoc = false,
      asofLateralFallback = true)
    assert(noneq === "SELECT l.k, r.v FROM l LEFT OUTER JOIN LATERAL " +
      "(SELECT * FROM r WHERE (l.k >= r.k) AND (l.ts >= r.ts) " +
      "ORDER BY r.ts DESC LIMIT 1) r ON TRUE ")
    // the SET option threads through Ddl.parse to view lowering
    val prog = graft.ddl.Ddl.parse(
      "SET asof_lateral_fallback = ON;\n" +
        "CREATE VIEW v AS " + unprovable + ";")
    assert(prog.views.head.sql.contains("JOIN LATERAL"))
    val refusedProg = intercept[RuntimeException](graft.ddl.Ddl.parse(
      "CREATE VIEW v AS " + unprovable + ";"))
    assert(refusedProg.getMessage.contains("asof_lateral_fallback"))
    // multi-key ON conjunction partitions on every key
    val multi = Dialect.normalize(
      "SELECT l.k FROM l LEFT ASOF JOIN r " +
        "MATCH_CONDITION (l.ts >= r.ts) ON l.k = r.k AND r.g = l.g")
    assert(multi.contains("PARTITION BY __k0, __k1") &&
      multi.contains("(l.g) AS __k1"), multi)
  }

  test("ASOF JOIN runs end-to-end through the pipeline") {
    val pipe = Pipeline(spark,
      """CREATE TABLE probe (k BIGINT, pts BIGINT);
        |CREATE TABLE build (k BIGINT, bts BIGINT, v VARCHAR);
        |CREATE VIEW a AS
        |  SELECT probe.k, probe.pts, build.v FROM probe
        |  LEFT ASOF JOIN build
        |  MATCH_CONDITION (probe.pts >= build.bts)
        |  ON probe.k = build.k;""".stripMargin)
    pipe.step(Map(
      "probe" -> ZSets.lift(Seq((1L, 10L), (1L, 25L), (2L, 5L))
        .toDF("k", "pts")),
      "build" -> ZSets.lift(
        Seq((1L, 8L, "a"), (1L, 20L, "b"), (2L, 9L, "c"))
          .toDF("k", "bts", "v"))))
    val out = pipe.adHoc("SELECT * FROM a ORDER BY k, pts")
      .as[(Long, Long, Option[String])].collect().toSeq
    // k=1@10 -> latest bts<=10 is 8("a"); k=1@25 -> 20("b");
    // k=2@5 -> no bts<=5 -> null-padded (LEFT form)
    assert(out === Seq((1L, 10L, Some("a")), (1L, 25L, Some("b")),
      (2L, 5L, None)))
  }

  test("chained and nested ASOF JOINs lower and run e2e") {
    // two ASOF joins chain: the second lowers over the first's lowered
    // output — struct-alias refs (pa.*, pb.*) keep resolving because
    // the first lowering re-exposes them as struct columns, which the
    // second lowering re-flattens
    val pipe = Pipeline(spark,
      """CREATE TABLE pa (k BIGINT, t BIGINT, x VARCHAR);
        |CREATE TABLE pb (k BIGINT, t BIGINT, bv VARCHAR);
        |CREATE TABLE pc (k BIGINT, t BIGINT, cv VARCHAR);
        |CREATE VIEW ch AS SELECT pa.x, pb.bv, pc.cv FROM pa
        |  LEFT ASOF JOIN pb MATCH_CONDITION (pa.t >= pb.t) ON pa.k = pb.k
        |  LEFT ASOF JOIN pc MATCH_CONDITION (pa.t >= pc.t) ON pa.k = pc.k;"""
        .stripMargin)
    pipe.step(Map(
      "pa" -> ZSets.lift(Seq((1L, 10L, "a1"), (1L, 30L, "a2"))
        .toDF("k", "t", "x")),
      "pb" -> ZSets.lift(Seq((1L, 5L, "b1"), (1L, 20L, "b2"))
        .toDF("k", "t", "bv")),
      "pc" -> ZSets.lift(Seq((1L, 25L, "c1")).toDF("k", "t", "cv"))))
    val out = pipe.adHoc("SELECT * FROM ch ORDER BY x")
      .as[(String, String, Option[String])].collect().toSeq
    // t=10: pb<=10 -> b1; pc<=10 -> none. t=30: b2, c1.
    assert(out === Seq(("a1", "b1", None), ("a2", "b2", Some("c1"))))
    // ASOF inside a subquery lowers too (baseDepth > 0)
    val sub = Dialect.normalize(
      "SELECT * FROM (SELECT l.k FROM l ASOF JOIN r " +
        "MATCH_CONDITION (l.t >= r.t) ON l.k = r.k) s")
    assert(sub.contains("__asof_l_r") && !sub.contains("ASOF"), sub)
    // NULL semantics: a NULL probe timestamp or NULL key never matches
    // (SQL comparison semantics, as the reference's match condition;
    // DuckDB's native ASOF diverges here — it sorts a NULL probe ts as
    // +infinity and matches the largest build row, measured on 1.0 —
    // so this is pinned as a spec, not a graded row)
    val np = Pipeline(spark,
      """CREATE TABLE np (k BIGINT, t BIGINT);
        |CREATE TABLE nb (k BIGINT, t BIGINT, v VARCHAR);
        |CREATE VIEW nv AS SELECT np.k, nb.v FROM np
        |  LEFT ASOF JOIN nb MATCH_CONDITION (np.t >= nb.t)
        |  ON np.k = nb.k;""".stripMargin)
    np.step(Map(
      "np" -> ZSets.lift(Seq((1L, Option.empty[Long]),
        (2L, Some(50L))).toDF("k", "t")),
      "nb" -> ZSets.lift(Seq(
        (1L, Some(5L), "x"), (2L, Option.empty[Long], "y"),
        (2L, Some(7L), "z")).toDF("k", "t", "v"))))
    val nout = np.adHoc("SELECT * FROM nv ORDER BY k")
      .as[(Long, Option[String])].collect().toSeq
    // k=1: probe ts NULL -> no match; k=2: build ts NULL filtered,
    // 50 >= 7 -> "z"
    assert(nout === Seq((1L, None), (2L, Some("z"))))
  }

  test("DISTINCT ON lowers to a rank-1 filter; e2e through the pipeline") {
    // the pure-ordering tail is dropped (relations are unordered
    // Z-sets; it may name unprojected columns) — the window keeps it
    assert(Dialect.normalize(
      "SELECT DISTINCT ON (g) g, k, x FROM t ORDER BY g, x DESC, k")
      === "SELECT * EXCEPT (__dn) FROM (SELECT g, k, x, ROW_NUMBER() " +
        "OVER (PARTITION BY g ORDER BY g, x DESC, k) AS __dn FROM t) " +
        "__don WHERE __dn = 1")
    // with a LIMIT the ORDER BY is semantic and survives
    assert(Dialect.normalize(
      "SELECT DISTINCT ON (g) g, k FROM t ORDER BY g, k LIMIT 2")
      .endsWith("WHERE __dn = 1 ORDER BY g, k LIMIT 2"))
    val pipe = Pipeline(spark,
      """CREATE TABLE t (g VARCHAR, k BIGINT, x BIGINT);
        |CREATE VIEW first_per_g AS
        |  SELECT DISTINCT ON (g) g, k, x FROM t
        |  ORDER BY g, x DESC, k;""".stripMargin)
    pipe.step(Map("t" -> ZSets.lift(
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L), ("b", 4L, 5L))
        .toDF("g", "k", "x"))))
    val out = pipe.adHoc("SELECT * FROM first_per_g ORDER BY g")
      .as[(String, Long, Long)].collect().toSeq
    // a: highest x (20, k=2); b: x ties, lowest k wins (k=3)
    assert(out === Seq(("a", 2L, 20L), ("b", 3L, 5L)))
  }

  test("rewriter robustness: literals, nesting, and set-op chains") {
    // QUALIFY in the SECOND branch of a depth-0 set-op chain anchors to
    // ITS select block, not the first one
    val u = Dialect.normalize(
      "SELECT k FROM a UNION ALL SELECT k FROM b QUALIFY SUM(x) OVER () > 1")
    assert(u.startsWith("SELECT k FROM a UNION ALL SELECT * EXCEPT (__q)"), u)
    // string literals never confuse the scanners
    assert(Dialect.normalize(
      "SELECT 'QUALIFY DISTINCT ON (x) LIMIT 1, 2 FETCH FIRST' FROM t")
      === "SELECT 'QUALIFY DISTINCT ON (x) LIMIT 1, 2 FETCH FIRST' FROM t")
    // one literal carrying the trigger of every paren/bracket rewrite
    val triggers = "SELECT 'SUBSTRING(x FROM 1 FOR 2) EXTRACT(DOW FROM d) " +
      "ARRAY[1] MAP[1, 2] xs[1] TRUNCATE(x) DATE_PART(x) FLOOR(d TO DAY) " +
      "DATE_TRUNC(x) CAST(x AS CHAR(2)) CAST(x AS BINARY(2)) GROUPING(a) " +
      "GROUPING_ID(a, b) GROUP BY a LOG(x) ARRAY_AGG(x ORDER BY y) PIVOT ( " +
      "UNPIVOT ( UNNEST( TUMBLE( TABLE(TUMBLE( OUTER APPLY ( ASOF JOIN " +
      "LATERAL (VALUES (1)) CASE (a, b) WHEN (1, 2) (a, b) IN ((1, 2)) " +
      "(d - e) HOURS (a, b) OVERLAPS (c, d)' FROM t"
    assert(Dialect.normalize(triggers) === triggers)
    // REPLACE-like and EXCLUDE-like spellings inside literals survive
    assert(Dialect.normalize("SELECT '* EXCLUDE (a) ROW(' FROM t")
      === "SELECT '* EXCLUDE (a) ROW(' FROM t")
    // a parenthesized expression containing ') AND (' inside an OUTER
    // APPLY body keeps the splice position correct
    val oa = Dialect.normalize(
      "FROM t OUTER APPLY (SELECT x FROM u WHERE (a = 1) AND (b = 2)) s " +
        "WHERE t.k > 0")
    assert(oa === "FROM t LEFT OUTER JOIN LATERAL (SELECT x FROM u " +
      "WHERE (a = 1) AND (b = 2)) s ON TRUE WHERE t.k > 0")
    // FETCH with the count omitted and ROW singular
    assert(Dialect.normalize("SELECT k FROM t FETCH FIRST ROW ONLY")
      === "SELECT k FROM t LIMIT 1")
    // multiple dialect features in one statement compose
    val multi = Dialect.normalize(
      "SELECT * EXCLUDE (b) FROM t UNPIVOT INCLUDING NULLS " +
        "(v FOR m IN (x, y)) ORDER BY ALL FETCH FIRST 3 ROWS ONLY")
    assert(multi === "SELECT * EXCEPT (b) FROM t UNPIVOT INCLUDE NULLS " +
      "(v FOR m IN (x, y)) ORDER BY ALL LIMIT 3")
  }

  test("QUALIFY/DISTINCT ON alias substitution is quote- and dot-safe") {
    // dot-qualified reference to a same-named column of another table
    // is NOT the select alias — it must survive unmangled
    val dq = Dialect.normalize("SELECT x AS rn FROM t QUALIFY t.rn = 1")
    assert(dq.contains("(t.rn = 1) AS __q"), dq)
    // an alias word inside a predicate string literal survives
    val lit = Dialect.normalize(
      "SELECT ROW_NUMBER() OVER (ORDER BY x) AS rn, s FROM t " +
        "QUALIFY rn = 1 AND s <> 'rn = bad'")
    assert(lit.contains("'rn = bad'"), lit)
    assert(lit.contains("(ROW_NUMBER() OVER (ORDER BY x)) = 1"), lit)
    // MINUS anchors the predicate end like the other set-ops
    val mn = Dialect.normalize(
      "SELECT k, ROW_NUMBER() OVER (ORDER BY k) AS r FROM a " +
        "QUALIFY r = 1 MINUS SELECT k, 1 FROM b")
    assert(mn.contains("WHERE __q MINUS SELECT k, 1 FROM b"), mn)
    // DISTINCT ON: an order item `t.c` where the select aliases `c`
    // names another relation's column, not the alias
    val don = Dialect.normalize(
      "SELECT DISTINCT ON (g) g, x AS c FROM t ORDER BY g, t.c")
    assert(don.contains("ORDER BY g, t.c)"), don)
  }

  test("nested QUALIFY / DISTINCT ON in subqueries are lowered") {
    val nq = Dialect.normalize(
      "SELECT q.k FROM (SELECT k, ROW_NUMBER() OVER (ORDER BY x) AS r " +
        "FROM t QUALIFY r = 1) q")
    // the keyword is gone (the __qualify subquery alias remains)
    assert(!"(?i)(?<![\\w])QUALIFY\\b".r.findFirstIn(nq).isDefined &&
      nq.contains("__q"), nq)
    val nd = Dialect.normalize(
      "SELECT d.g FROM (SELECT DISTINCT ON (g) g, k FROM t " +
        "ORDER BY g, k) d")
    assert(!nd.toUpperCase.contains("DISTINCT ON") &&
      nd.contains("__dn"), nd)
    // e2e: QUALIFY inside a subquery through the pipeline
    val pipe = Pipeline(spark,
      """CREATE TABLE nt (g VARCHAR, k BIGINT, x BIGINT);
        |CREATE VIEW topg AS
        |  SELECT q.g, q.k FROM (
        |    SELECT g, k, x FROM nt
        |    QUALIFY ROW_NUMBER() OVER (PARTITION BY g
        |      ORDER BY x DESC, k) = 1) q
        |  WHERE q.k > 0;""".stripMargin)
    pipe.step(Map("nt" -> ZSets.lift(
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 3L, 5L))
        .toDF("g", "k", "x"))))
    val out = pipe.adHoc("SELECT * FROM topg ORDER BY g")
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("a", 2L), ("b", 3L)))
  }

  test("ad-hoc DISTINCT ON keeps the requested presentation order") {
    val ah = Dialect.normalize(
      "SELECT DISTINCT ON (g) g, k FROM t ORDER BY g, k DESC",
      adHoc = true)
    assert(ah.endsWith("ORDER BY g, k DESC"), ah)
    // view-body lowering still drops the decorative tail
    assert(!Dialect.normalize(
      "SELECT DISTINCT ON (g) g, k FROM t ORDER BY g, k DESC")
      .endsWith("ORDER BY g, k DESC"))
  }

  test("star EXCLUDE anchors to a select-item star") {
    assert(Dialect.normalize("SELECT price * exclude(r) FROM t")
      === "SELECT price * exclude(r) FROM t")
    assert(Dialect.normalize("SELECT a, * EXCLUDE (b) FROM t")
      === "SELECT a, * EXCEPT (b) FROM t")
  }

  test("CAST with a string-literal operand resolves the user type") {
    val prog = Ddl.parse(
      """CREATE TYPE money AS DECIMAL(18, 4);
        |CREATE TABLE ct (a BIGINT);
        |CREATE FUNCTION cf(x BIGINT) RETURNS DOUBLE AS
        |  CAST(CAST('1.5' AS money) AS DOUBLE) + CAST(x AS DOUBLE);
        |CREATE VIEW cv AS SELECT cf(a) AS r FROM ct;""".stripMargin)
    val pipe = new Pipeline(spark, prog)
    pipe.step(Map("ct" -> ZSets.lift(Seq(2L).toDF("a"))))
    assert(pipe.adHoc("SELECT r FROM cv").as[Double].head() === 3.5)
  }

  test("SQL hints map to Spark strategy hints; SET options parse") {
    assert(Dialect.normalize(
      "SELECT /*+ broadcast(S), shard(T) */ * FROM T JOIN S ON T.k = S.k")
      === "SELECT /*+ BROADCAST(S), SHUFFLE_HASH(T) */ * FROM T " +
        "JOIN S ON T.k = S.k")
    // balance maps to a shuffled hash strategy too
    assert(Dialect.normalize("SELECT /*+ balance(T) */ a FROM T")
      === "SELECT /*+ SHUFFLE_HASH(T) */ a FROM T")
    // table-position hints have no Spark surface — dropped
    assert(!Dialect.normalize(
      "SELECT a FROM T /*+ size(5) */ JOIN S ON T.k = S.k")
      .contains("size(5)"))
    // a hint spelling inside a string literal is untouched
    assert(Dialect.normalize("SELECT '/*+ broadcast(x) */' FROM t")
      === "SELECT '/*+ broadcast(x) */' FROM t")
    val prog = Ddl.parse(
      """SET FELDERA_WARNINGS_ARE_ERRORS = ON;
        |SET ENFORCE_POSITIVE_INPUTS = OFF;
        |SET FELDERA_IGNORE_WARNING_UNUSED_COLUMN = ON;
        |CREATE TABLE t (a BIGINT);
        |CREATE VIEW v AS SELECT /*+ broadcast(t) */ a FROM t;"""
        .stripMargin)
    assert(prog.options("feldera_warnings_are_errors") === "true")
    assert(!prog.optionOn("enforce_positive_inputs"))
    assert(prog.views.head.sql.contains("/*+ BROADCAST(t) */"))
  }

  test("ENFORCE_POSITIVE_INPUTS fails a step on negative accumulation") {
    val pipe = Pipeline(spark,
      """SET ENFORCE_POSITIVE_INPUTS = ON;
        |CREATE TABLE pt (a BIGINT);
        |CREATE VIEW pv AS SELECT a FROM pt;""".stripMargin)
    pipe.step(Map("pt" -> ZSets.lift(Seq(1L).toDF("a"))))
    val del = Seq(1L).toDF("a")
      .withColumn("_w", org.apache.spark.sql.functions.lit(-2L))
    val ex = intercept[IllegalStateException] {
      pipe.step(Map("pt" -> del))
    }
    assert(ex.getMessage.contains("ENFORCE_POSITIVE_INPUTS"))
  }

  test("SQL comments never trigger rewriters or derail the splitter") {
    // keywords inside comments are inert
    assert(Dialect.normalize("SELECT k FROM t -- QUALIFY junk\n").trim
      === "SELECT k FROM t")
    assert(Dialect.normalize(
      "SELECT k /* SELECT DISTINCT ON (x) */ FROM t")
      === "SELECT k   FROM t")
    assert(Dialect.normalize(
      "SELECT k FROM t -- l ASOF JOIN r MATCH_CONDITION (x) ON y\n").trim
      === "SELECT k FROM t")
    // nested block comments close correctly
    assert(Dialect.normalize("SELECT k /* a /* b */ c */ FROM t")
      === "SELECT k   FROM t")
    // semicolons and quotes inside comments don't derail the program
    // splitter; comment-only statements vanish
    val prog = Ddl.parse(
      "CREATE TABLE t (a BIGINT); -- note; don't trip\n" +
        "CREATE VIEW v AS SELECT a /* the 'key' */ FROM t;")
    assert(prog.views.head.sql.trim === "SELECT a   FROM t")
    // comment spellings inside string literals and double-quoted
    // identifiers are DATA, not comments
    assert(Dialect.normalize("SELECT '--not a comment', '/*nor this*/'" +
      " FROM t") === "SELECT '--not a comment', '/*nor this*/' FROM t")
    // (the identifier itself then maps to Spark's backtick spelling)
    assert(Dialect.normalize("SELECT \"a--b\" FROM t")
      === "SELECT `a--b` FROM t")
    // optimizer hint blocks survive stripping (and still map)
    assert(Dialect.normalize(
      "SELECT /*+ broadcast(S) */ a -- tail\n FROM T JOIN S ON T.k = S.k")
      .contains("/*+ BROADCAST(S) */"))
  }

  test("normalize is idempotent on already-normalized text") {
    val inputs = Seq(
      "SELECT * EXCLUDE (a) FROM t",
      "SELECT k, ROW_NUMBER() OVER (ORDER BY x) AS r FROM t QUALIFY r = 1",
      "FROM t OUTER APPLY (SELECT 1 AS x) s",
      "SELECT l.k FROM l LEFT ASOF JOIN r MATCH_CONDITION (l.t >= r.t) ON l.k = r.k",
      "SELECT DISTINCT ON (g) g, k FROM t ORDER BY g, k",
      "SELECT k FROM t ORDER BY k OFFSET 2 ROWS FETCH NEXT 5 ROWS ONLY")
    inputs.foreach { in =>
      val once = Dialect.normalize(in)
      assert(Dialect.normalize(once) === once, s"not idempotent for: $in")
    }
  }

  test("CAST alias rewrite is anchored to CAST, not any 'AS name)'") {
    val prog = Ddl.parse(
      """CREATE TYPE money AS DECIMAL(18, 4);
        |CREATE TABLE t (a BIGINT);
        |CREATE FUNCTION f(x BIGINT) RETURNS DOUBLE AS
        |  CAST(CAST(x AS money) AS DOUBLE) +
        |  (SELECT CAST(0 AS DOUBLE) AS money);
        |CREATE VIEW v AS SELECT f(a) AS r FROM t;""".stripMargin)
    val pipe = new Pipeline(spark, prog)
    pipe.step(Map("t" -> ZSets.lift(Seq(7L).toDF("a"))))
    // the scalar-subquery projection alias `AS money)` must survive; only
    // the CAST-closing occurrence is rewritten to DECIMAL(18,4)
    assert(pipe.adHoc("SELECT r FROM v").as[Double].head() === 7.0)
  }

  test("period predicates lower to their documented comparisons") {
    assert(Dialect.normalize("SELECT (a, b) OVERLAPS (c, d) FROM t")
      === "SELECT ((a) <= (d) AND (b) >= (c)) FROM t")
    assert(Dialect.normalize("SELECT (a, b) PRECEDES (c, d) FROM t")
      === "SELECT ((b) <= (c)) FROM t")
    assert(Dialect.normalize(
      "SELECT (a, b) IMMEDIATELY PRECEDES (c, d) FROM t")
      === "SELECT ((b) = (c)) FROM t")
    assert(Dialect.normalize("SELECT (a, b) SUCCEEDS (c, d) FROM t")
      === "SELECT ((a) >= (d)) FROM t")
    assert(Dialect.normalize("SELECT (a, b) EQUALS (c, d) FROM t")
      === "SELECT ((a) = (c) AND (b) = (d)) FROM t")
    assert(Dialect.normalize("SELECT (a, b) CONTAINS (c, d) FROM t")
      === "SELECT ((a) <= (c) AND (b) >= (d)) FROM t")
    // CONTAINS value — both the bare and parenthesized spellings
    assert(Dialect.normalize("SELECT (a, b) CONTAINS x + 1 AS c FROM t")
      === "SELECT ((a) <= (x + 1) AND (x + 1) <= (b)) AS c FROM t")
    assert(Dialect.normalize("SELECT (a, b) CONTAINS (x) FROM t")
      === "SELECT ((a) <= (x) AND (x) <= (b)) FROM t")
    // a function call or single-expression group before the keyword is
    // NOT a period — untouched (fails loudly at Spark, as before)
    assert(Dialect.normalize("SELECT f(a) CONTAINS (c, d) FROM t")
      === "SELECT f(a) CONTAINS (c, d) FROM t")
    // keyword inside a string literal untouched
    assert(Dialect.normalize("SELECT '(a,b) OVERLAPS (c,d)' FROM t")
      === "SELECT '(a,b) OVERLAPS (c,d)' FROM t")
    // LOGICAL_AND/LOGICAL_OR map to the BOOL_ spellings
    assert(Dialect.normalize("SELECT LOGICAL_AND(f), logical_or(g) FROM t")
      === "SELECT BOOL_AND(f), BOOL_OR(g) FROM t")
    // a column merely named logical_and is untouched (paren-anchored)
    assert(Dialect.normalize("SELECT logical_and FROM t")
      === "SELECT logical_and FROM t")
    // SAFE_CAST → TRY_CAST; bare VARCHAR/CHAR type spellings map to
    // Spark's (VARCHAR(n) and CHAR_LENGTH/chr(...) stay untouched);
    // a CHAR(n) cast carries the reference's truncate+pad semantics
    // (types.md — Spark erases CHAR(n) to STRING in cast position)
    assert(Dialect.normalize(
      "SELECT SAFE_CAST(x AS INT), CAST(y AS VARCHAR), z :: VARCHAR, " +
        "CAST(c AS CHAR) FROM t")
      === "SELECT TRY_CAST(x AS INT), CAST(y AS STRING), z :: STRING, " +
        "rpad(substring(CAST(c AS STRING), 1, 1), 1, ' ') FROM t")
    assert(Dialect.normalize(
      "SELECT CAST(x AS VARCHAR(5)), CHAR_LENGTH(s), chr(65), " +
        "'a VARCHAR here' FROM t")
      === "SELECT CAST(x AS VARCHAR(5)), CHAR_LENGTH(s), chr(65), " +
        "'a VARCHAR here' FROM t")
  }

  test("ASOF JOIN with a join-tree left operand lowers (no lateral)") {
    val low = Dialect.normalize(
      "SELECT o.id, c.name, r.v FROM ord o JOIN cust c ON o.cid = c.id " +
        "LEFT ASOF JOIN rates r MATCH_CONDITION (o.ts >= r.ts) " +
        "ON o.cur = r.cur")
    assert(!low.toUpperCase.contains("LATERAL"),
      s"join-tree left operand fell back to the lateral probe:\n$low")
    assert(low.contains("__s0") && low.contains("__s1"),
      "per-alias struct capture missing")
    // bare * over the tree expands to every alias's columns
    val star = Dialect.normalize(
      "SELECT * FROM ord o JOIN cust c ON o.cid = c.id " +
        "ASOF JOIN rates r MATCH_CONDITION (o.ts >= r.ts) ON o.cur = r.cur")
    assert(star.contains("o.*, c.*, r.*"), s"star not expanded:\n$star")
    // NATURAL/USING trees are NOT provable (coalesced columns would
    // change a bare *'s schema) — refused by default, lateral on opt-in
    val natSql = "SELECT a.x FROM a NATURAL JOIN b " +
      "ASOF JOIN r MATCH_CONDITION (a.ts >= r.ts) ON a.k = r.k"
    assert(intercept[RuntimeException](Dialect.normalize(natSql))
      .getMessage.contains("asof_lateral_fallback"))
    val nat = Dialect.normalize(natSql, adHoc = false,
      asofLateralFallback = true)
    assert(nat.toUpperCase.contains("LATERAL"))
    // e2e through the pipeline: orders x customers probe, per-currency
    // rate asof; one unmatched currency null-extends
    val pipe = Pipeline(spark,
      """CREATE TABLE ord (id BIGINT, cid BIGINT, cur VARCHAR,
        | ts TIMESTAMP);
        |CREATE TABLE cust (id BIGINT, name VARCHAR);
        |CREATE TABLE rates (cur VARCHAR, ts TIMESTAMP, v BIGINT);
        |CREATE VIEW j AS
        |  SELECT o.id, c.name, r.v
        |  FROM ord o JOIN cust c ON o.cid = c.id
        |  LEFT ASOF JOIN rates r MATCH_CONDITION (o.ts >= r.ts)
        |  ON o.cur = r.cur;""".stripMargin)
    def ts(x: String) = java.sql.Timestamp.valueOf(x)
    pipe.step(Map(
      "ord" -> ZSets.lift(Seq(
        (1L, 10L, "eur", ts("2024-01-01 10:00:00")),
        (2L, 10L, "eur", ts("2024-01-01 12:00:00")),
        (3L, 20L, "jpy", ts("2024-01-01 12:00:00"))).toDF(
        "id", "cid", "cur", "ts")),
      "cust" -> ZSets.lift(Seq((10L, "alice"), (20L, "bob"))
        .toDF("id", "name")),
      "rates" -> ZSets.lift(Seq(
        ("eur", ts("2024-01-01 09:00:00"), 90L),
        ("eur", ts("2024-01-01 11:00:00"), 110L)).toDF("cur", "ts", "v"))))
    val out = pipe.adHoc("SELECT * FROM j ORDER BY id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(out === Seq((1L, "alice", Some(90L)),
      (2L, "alice", Some(110L)), (3L, "bob", None)))
  }

  test("pgcorpus-derived rewrites: U& literals, EXTRACT units, " +
    "DATE_TRUNC/FLOOR TO, SUBSTRING clamp, literal backslashes") {
    // U&'...' decodes; custom UESCAPE char; doubled escape = itself
    assert(Dialect.normalize("SELECT U&'d\\0061t\\0061'")
      === "SELECT 'data'")
    assert(Dialect.normalize("SELECT U&'d!0061t!0061' UESCAPE '!'")
      === "SELECT 'data'")
    assert(Dialect.normalize("SELECT U&'a\\\\b'") === "SELECT 'a\\\\b'")
    // standard-conforming literals: backslashes double so Spark's
    // C-style literal parser reads them verbatim
    assert(Dialect.normalize("SELECT 'a\\bcd'") === "SELECT 'a\\\\bcd'")
    // EXTRACT units Spark lacks lower to native compositions
    val ext = Dialect.normalize("SELECT EXTRACT(CENTURY FROM d), " +
      "EXTRACT(DOW FROM d), EXTRACT(EPOCH FROM d) FROM t")
    assert(ext.contains("FLOOR((EXTRACT(YEAR FROM d) + 99) / 100.0)"))
    assert(ext.contains("dayofweek(d)"))
    assert(ext.contains("unix_timestamp(CAST(d AS TIMESTAMP)"))
    // bare-unit DATE_PART respells onto EXTRACT (and its unit map)
    assert(Dialect.normalize("SELECT DATE_PART(decade, d) FROM t")
      .contains("FLOOR(EXTRACT(YEAR FROM d) / 10.0)"))
    // DATE_TRUNC bare-keyword unit → the type-preserving expression;
    // Spark's own date_trunc('unit', ts) spelling is untouched
    assert(Dialect.normalize("SELECT DATE_TRUNC(d, MONTH) FROM t")
      === "SELECT graft_date_trunc(d, 'MONTH') FROM t")
    assert(Dialect.normalize("SELECT date_trunc('month', d) FROM t")
      === "SELECT date_trunc('month', d) FROM t")
    assert(Dialect.normalize("SELECT FLOOR(ts TO WEEK), " +
      "CEIL(ts TO MONTH) FROM t")
      === "SELECT graft_date_floor_to(ts, 'WEEK'), " +
        "graft_date_ceil_to(ts, 'MONTH') FROM t")
    // plain FLOOR/CEIL untouched
    assert(Dialect.normalize("SELECT FLOOR(x / 2.0) FROM t")
      === "SELECT FLOOR(x / 2.0) FROM t")
    // SUBSTRING FROM/FOR clamps (negative start → max(l+s-1, 0) chars)
    val sub = Dialect.normalize(
      "SELECT SUBSTRING(s FROM -10 FOR 5) FROM t")
    assert(sub.contains("CASE WHEN") && sub.contains("GREATEST"), sub)
    // FROM-only form matches Spark natively — untouched
    assert(Dialect.normalize("SELECT SUBSTRING(s FROM 3) FROM t")
      === "SELECT SUBSTRING(s FROM 3) FROM t")
    // SPLIT_PART routes through the 0-tolerant registry spelling
    assert(Dialect.normalize("SELECT SPLIT_PART(s, ',', 0) FROM t")
      === "SELECT split_part_f(s, ',', 0) FROM t")
    // multi-arg GROUPING (and GROUPING_ID) lower to the explicit bit
    // sum (Calcite allows subset/reorder/repeat argument lists, Spark's
    // native GROUPING_ID does not); GROUPING SETS lists stay
    assert(Dialect.normalize(
      "SELECT GROUPING(a, b) FROM t GROUP BY GROUPING SETS ((a), (b))")
      === "SELECT (CAST(GROUPING(a) AS BIGINT) * 2 + " +
        "CAST(GROUPING(b) AS BIGINT)) FROM t GROUP BY GROUPING SETS " +
        "((a), (b))")
    // 1-arg GROUPING stays native; a PLAIN group-by list wraps into
    // the equivalent GROUPING SETS form so Spark resolves GROUPING()
    // over it (Calcite allows it — constant 0)
    assert(Dialect.normalize("SELECT GROUPING(a) FROM t GROUP BY a")
      === "SELECT GROUPING(a) FROM t GROUP BY GROUPING SETS ((a)) ")
  }

  test("double-quoted and U& identifiers map to Spark backticks") {
    assert(Dialect.normalize("SELECT a AS \"Mixed Case\" FROM t")
      === "SELECT a AS `Mixed Case` FROM t")
    assert(Dialect.normalize("SELECT \"He said \"\"hi\"\"\" FROM t")
      === "SELECT `He said \"hi\"` FROM t")
    assert(Dialect.normalize("SELECT U&\"d\\0061t\\0061\" FROM t")
      === "SELECT `data` FROM t")
    assert(Dialect.normalize("SELECT U&\"d!0061t!0061\" UESCAPE '!' FROM t")
      === "SELECT `data` FROM t")
    // double quotes inside string literals are untouched
    assert(Dialect.normalize("SELECT '\"not an ident\"' FROM t")
      === "SELECT '\"not an ident\"' FROM t")
    // an identifier containing a quote character fails loudly
    val e = intercept[IllegalArgumentException](
      Dialect.normalize("SELECT \"O'Brien\" FROM t"))
    assert(e.getMessage.contains("not representable"))
    // a quoted identifier named like a rewritten keyword must survive
    // the keyword maps untouched (it is backticked, and the rewriters
    // treat backticked spans like literals)
    assert(Dialect.normalize("SELECT a AS \"VARCHAR\", b AS \"qualify\"" +
      " FROM t") === "SELECT a AS `VARCHAR`, b AS `qualify` FROM t")
    // ... and so must a quoted identifier holding a bracket, inside or
    // outside the brackets of an ARRAY[...] constructor or a subscript
    assert(Dialect.normalize("SELECT \"ARRAY[1]\" FROM t")
      === "SELECT `ARRAY[1]` FROM t")
    assert(Dialect.normalize("SELECT ARRAY[\"c]\", 2] FROM t")
      === "SELECT array(`c]`, 2) FROM t")
    assert(Dialect.normalize("SELECT xs[\"i]\"] FROM t")
      === "SELECT graft_subscript(xs, `i]`) FROM t")
    // e2e: quoted column in the DDL, quoted references in the view
    val pipe = Pipeline(spark,
      "CREATE TABLE t (\"Order Id\" BIGINT, v BIGINT);\n" +
        "CREATE VIEW q AS SELECT \"Order Id\" AS k, SUM(v) AS s " +
        "FROM t GROUP BY \"Order Id\";")
    pipe.step(Map("t" -> ZSets.lift(
      Seq((1L, 5L), (1L, 7L), (2L, 1L)).toDF("Order Id", "v"))))
    assert(pipe.adHoc("SELECT * FROM q ORDER BY k")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 12L), (2L, 1L)))
  }

  test("TUMBLE table function lowers to Spark's window projection") {
    val low = Dialect.normalize(
      "SELECT window_start, COUNT(*) AS n FROM TABLE(TUMBLE(TABLE t, " +
        "DESCRIPTOR(ts), INTERVAL '1' HOUR)) GROUP BY window_start")
    assert(low.contains("window(ts, '1 hour')"))
    assert(low.contains("window_start"))
    assert(!low.toUpperCase.contains("TUMBLE"))
    // spelled inside a string literal or a comment: untouched / stripped
    assert(Dialect.normalize("SELECT 'TABLE(TUMBLE(TABLE t' FROM t")
      === "SELECT 'TABLE(TUMBLE(TABLE t' FROM t")
    assert(!Dialect.normalize(
      "SELECT a FROM t -- TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), x))\n")
      .toUpperCase.contains("TUMBLE"))
    // long intervals are not constants (table.md) — rejected loudly
    val e = intercept[RuntimeException](Dialect.normalize(
      "SELECT * FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), " +
        "INTERVAL '1' MONTH))"))
    assert(e.getMessage.contains("short INTERVAL"))
  }

  test("TUMBLE/HOP e2e: window bounds and fan-out, offset alignment") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (id BIGINT, ts TIMESTAMP);
        |CREATE VIEW tm AS
        |  SELECT id, window_start, window_end
        |  FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR));
        |CREATE VIEW tmo AS
        |  SELECT id, window_start
        |  FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR,
        |                    INTERVAL '15' MINUTE));
        |CREATE VIEW hp AS
        |  SELECT id, window_start
        |  FROM TABLE(HOP(data => TABLE t, timecol => DESCRIPTOR(ts),
        |                 slide => INTERVAL '30' MINUTE,
        |                 size => INTERVAL '1' HOUR));""".stripMargin)
    pipe.step(Map("t" -> ZSets.lift(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00")),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 10:50:00")))
        .toDF("id", "ts"))))
    val tm = pipe.adHoc(
      "SELECT id, CAST(window_start AS STRING), CAST(window_end AS STRING) " +
        "FROM tm ORDER BY id").as[(Long, String, String)].collect().toSeq
    assert(tm === Seq(
      (1L, "2024-01-01 10:00:00", "2024-01-01 11:00:00"),
      (2L, "2024-01-01 10:00:00", "2024-01-01 11:00:00")))
    // offset 15min: 10:10 lands in [09:15, 10:15), 10:50 in [10:15, 11:15)
    val tmo = pipe.adHoc(
      "SELECT id, CAST(window_start AS STRING) FROM tmo ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(tmo === Seq(
      (1L, "2024-01-01 09:15:00"), (2L, "2024-01-01 10:15:00")))
    // HOP size 1h slide 30m: each row covered by exactly 2 windows
    val hp = pipe.adHoc(
      "SELECT id, CAST(window_start AS STRING) FROM hp ORDER BY id, 2")
      .as[(Long, String)].collect().toSeq
    assert(hp === Seq(
      (1L, "2024-01-01 09:30:00"), (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:30:00")))
  }

  test("SESSION e2e: reference gap boundary (>=), key partitioning") {
    val pipe = Pipeline(spark,
      """CREATE TABLE t (u BIGINT, ts TIMESTAMP);
        |CREATE VIEW s AS
        |  SELECT u, window_start, window_end, COUNT(*) AS n
        |  FROM TABLE(SESSION(TABLE t, DESCRIPTOR(ts), DESCRIPTOR(u),
        |                     INTERVAL '30' SECOND))
        |  GROUP BY u, window_start, window_end;""".stripMargin)
    def ts(s0: String) = java.sql.Timestamp.valueOf(s0)
    pipe.step(Map("t" -> ZSets.lift(Seq(
      // user 1: 10s gap (same session), then exactly 30s (NEW session —
      // SessionRewriteRule.java: brk when ts >= prev + gap)
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:00:10")),
      (1L, ts("2024-01-01 00:00:40")),
      // user 2: one row; NULL ts produces no rows
      (2L, ts("2024-01-01 00:05:00"))).toDF("u", "ts")
      .union(Seq((3L, null.asInstanceOf[java.sql.Timestamp]))
        .toDF("u", "ts")))))
    val out = pipe.adHoc(
      "SELECT u, CAST(window_start AS STRING), CAST(window_end AS STRING), " +
        "n FROM s ORDER BY u, 2").as[(Long, String, String, Long)]
      .collect().toSeq
    assert(out === Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:00:40", 2L),
      (1L, "2024-01-01 00:00:40", "2024-01-01 00:01:10", 1L),
      (2L, "2024-01-01 00:05:00", "2024-01-01 00:05:30", 1L)))
  }
}
