package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.runtime.Pipeline
import graft.zset.ZSets

/** Incremental-vs-batch equivalence FUZZ — the SLT `-inc` idea
  * (sql-to-dbsp-compiler/README.md:147,186-192: feed inputs as multiple
  * steps, check the final output equals the one-shot batch) applied to
  * seeded RANDOM view definitions instead of a fixed program. Each
  * generated view draws from a grammar spanning every IVM shape the
  * planner classifies (linear filter/project, group aggregates, joins,
  * aggregates over joins, DISTINCT, and opaque tails like ORDER BY
  * LIMIT), so the classifier itself is part of the fuzzed surface: a
  * misclassified shape that still converges is fine, a wrong delta rule
  * is not.
  *
  * Aggregates stay on BIGINT columns (float summation order would make
  * incremental-vs-batch differ in ulps, a non-bug this spec must not
  * flag).
  */
class IvmFuzzSpec extends SparkSpec {

  private val nViews = 16

  private def genViews(rnd: scala.util.Random): Seq[String] = {
    def pred(): String = rnd.nextInt(5) match {
      case 0 => s"MOD(v, ${2 + rnd.nextInt(7)}) = ${rnd.nextInt(2)}"
      case 1 => s"v ${Seq("<", "<=", ">", ">=")(rnd.nextInt(4))} " +
        s"${50 + rnd.nextInt(200)}"
      case 2 => s"g <> ${rnd.nextInt(20)}"
      case 3 => s"(v + k) % ${2 + rnd.nextInt(5)} <> 0"
      case 4 => s"k < ${100 + rnd.nextInt(200)}"
    }
    def proj(): String = rnd.nextInt(4) match {
      case 0 => "v"
      case 1 => s"(v + ${rnd.nextInt(10)})"
      case 2 => s"ABS(v - ${rnd.nextInt(100)})"
      case 3 => s"(v * ${1 + rnd.nextInt(3)})"
    }
    def agg(): String = rnd.nextInt(4) match {
      case 0 => s"SUM(${proj()})"
      case 1 => "COUNT(*)"
      case 2 => s"MIN(${proj()})"
      case 3 => s"MAX(${proj()})"
    }
    (0 until nViews).map { i =>
      val body = rnd.nextInt(10) match {
        case 0 => // linear
          s"SELECT k, g, ${proj()} AS p FROM t WHERE ${pred()}"
        case 1 => // group aggregate
          s"SELECT g, ${agg()} AS a1, ${agg()} AS a2 FROM t " +
            s"WHERE ${pred()} GROUP BY g"
        case 2 => // join
          s"SELECT a.k, a.v, d.name FROM t a JOIN d ON a.g = d.g " +
            s"WHERE ${pred().replace("v", "a.v").replace("k", "a.k")
              .replace("g", "a.g")}"
        case 3 => // aggregate over join
          s"SELECT d.name, ${agg()} AS a1 FROM t JOIN d ON t.g = d.g " +
            s"GROUP BY d.name"
        case 4 => // distinct
          s"SELECT DISTINCT g, MOD(v, ${2 + rnd.nextInt(5)}) AS m FROM t"
        case 5 => // opaque tail
          s"SELECT k, v FROM t WHERE ${pred()} ORDER BY v DESC, k " +
            s"LIMIT ${5 + rnd.nextInt(10)}"
        case 6 => // semi join (the SemiAnti delta rule)
          s"SELECT k, g, v FROM t WHERE ${pred()} AND EXISTS " +
            s"(SELECT 1 FROM d WHERE d.g = t.g AND d.g < " +
            s"${10 + rnd.nextInt(15)})"
        case 7 => // anti join
          s"SELECT k, v FROM t WHERE NOT EXISTS " +
            s"(SELECT 1 FROM d WHERE d.g = t.g AND d.g % " +
            s"${2 + rnd.nextInt(4)} = 0)"
        case 8 => // left outer join (classifier fallback must still
          // converge under dim retraction)
          s"SELECT a.k, a.v, COALESCE(d.name, '-') AS nm " +
            s"FROM t a LEFT JOIN d ON a.g = d.g WHERE " +
            pred().replace("v", "a.v").replace("k", "a.k")
              .replace("g", "a.g")
        case 9 => // union all of two linear branches
          s"SELECT g, ${proj()} AS p FROM t WHERE ${pred()} " +
            s"UNION ALL SELECT g, ${proj()} AS p FROM t WHERE ${pred()}"
      }
      s"CREATE VIEW fz$i AS $body;"
    }
  }

  private def rows(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("k"),
      (col("id") % 17).as("g"),
      (pmod(col("id") * 2654435761L, lit(311))).as("v"))

  private def dims(n: Int): DataFrame =
    spark.range(n.toLong).select(col("id").as("g"),
      concat(lit("d"), col("id") % 13).as("name"))

  test("random views converge incremental == batch across mixed " +
      "insert/retract steps (seeded corpus)") {
    val rnd = new scala.util.Random(46368L)
    val views = genViews(rnd)
    val sql = ("CREATE TABLE t (k BIGINT NOT NULL, g BIGINT, v BIGINT);" +
      "CREATE TABLE d (g BIGINT NOT NULL, name VARCHAR);" +
      views.mkString(" ")).stripMargin
    val r = rows(300).localCheckpoint(true)
    val dm = dims(25).localCheckpoint(true)
    val steps = Seq(
      // step 1: partial inserts on both tables
      Map(
        "t" -> ZSets.lift(r.filter(col("k") % 3 =!= 0)),
        "d" -> ZSets.lift(dm.filter(col("g") < 20))),
      // step 2: the rest, plus retractions of step-1 rows
      Map(
        "t" -> ZSets.lift(r.filter(col("k") % 3 === 0)).unionByName(
          ZSets.negate(ZSets.lift(r.filter(col("k") % 7 === 0)))),
        "d" -> ZSets.lift(dm.filter(col("g") >= 20))),
      // step 3: dim retraction + a final insert wave touching every view
      Map(
        "t" -> ZSets.lift(r.filter(col("k") % 7 === 0)
          .withColumn("v", col("v") + 1)),
        "d" -> ZSets.negate(ZSets.lift(dm.filter(col("g") % 11 === 5)))))
    val pipe = Pipeline(spark, sql)
    val serialOut = steps.map(pipe.step)
    // the same steps through the concurrent step loop (local[4] resolves
    // viewParallelism to 1): every view reads only tables, so the whole
    // corpus is one level fanned out 8 wide
    val parSession = spark.newSession()
    parSession.conf.set("spark.graft.pipeline.viewParallelism", "8")
    val parallel = Pipeline(parSession, sql)
    val parallelOut = steps.map(parallel.step)
    def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
      val (ca, cb) = (ZSets.consolidate(a), ZSets.consolidate(b))
      val cbo = cb.select(ca.columns.map(col): _*)
      ca.exceptAll(cbo).isEmpty && cbo.exceptAll(ca).isEmpty
    }
    serialOut.zip(parallelOut).zipWithIndex.foreach { case ((sd, pd), i) =>
      assert(pd.keySet === sd.keySet)
      for ((v, d) <- sd)
        assert(sameMultiset(d, pd(v)),
          s"step ${i + 1}: parallel delta of $v diverged from serial; " +
            s"definition: ${views(v.stripPrefix("fz").toInt)}")
    }

    val batchT = r.filter(col("k") % 7 =!= 0).unionByName(
      r.filter(col("k") % 7 === 0).withColumn("v", col("v") + 1))
    val batch = Pipeline(spark, sql).runBatch(Map(
      "t" -> batchT,
      "d" -> dm.filter(col("g") % 11 =!= 5)))

    views.indices.foreach { i =>
      val v = s"fz$i"
      val inc = pipe.adHoc(s"SELECT * FROM $v")
      val exp = batch(v)
      assert(inc.exceptAll(exp).isEmpty && exp.exceptAll(inc).isEmpty,
        s"view $v diverged from batch recompute; definition: ${views(i)}")
    }
  }
}
