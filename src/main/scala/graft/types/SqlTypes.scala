package graft.types

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Feldera SQL type system → Spark DataType mapping (SURVEY §1.3;
  * reference: SqlType enum crates/feldera-types/src/program_schema.rs:462,
  * docs.feldera.com/docs/sql/types.md).
  *
  * Unsigned widths have no Spark native type: they widen to the next
  * signed type (U64 → DECIMAL(20,0)) with range-checked casts. CHAR(n) is
  * StringType plus pad/truncate semantics. UUID is canonical-form string.
  */
object SqlTypes {

  /** User-defined type aliases (CREATE TYPE name AS typedef,
    * grammar.md:43-50) — names resolve recursively through [[toSpark]].
    */
  private val userTypes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def registerType(name: String, typedef: String): Unit =
    userTypes(name.trim.toUpperCase(Locale.ROOT)) = typedef

  /** Parse a Feldera SQL type string to (DataType, nullable-default). */
  def toSpark(sqlType: String): DataType = {
    val t0 = sqlType.trim.toUpperCase(Locale.ROOT)
      // storage/nullability modifiers carried inside a type string
      // (`VARCHAR INTERNED`, `ROW(…) NULL`) — not type information
      .replaceAll("\\s+INTERNED$", "")
      .replaceAll("\\s+NOT\\s+NULL$", "")
      .replaceAll("\\s+NULL$", "")
    val t = t0
    userTypes.get(t).foreach(td => return toSpark(td))
    val charN = "^(CHAR|CHARACTER)\\s*\\((\\d+)\\)$".r
    val varcharN = "^VARCHAR\\s*\\((\\d+)\\)$".r
    val decimalPS = "^(DECIMAL|NUMERIC)\\s*\\((\\d+)\\s*,\\s*(\\d+)\\)$".r
    val decimalP = "^(DECIMAL|NUMERIC)\\s*\\((\\d+)\\)$".r
    val arrayT = "^(.*)\\s+ARRAY$".r
    val mapT = "^MAP\\s*<(.*),(.*)>$".r
    t match {
      case "BOOLEAN" | "BOOL" => BooleanType
      case "TINYINT" => ByteType
      case "SMALLINT" | "INT2" => ShortType
      case "INT" | "INTEGER" | "INT4" => IntegerType
      case "BIGINT" | "INT8" => LongType
      case "TINYINT UNSIGNED" => ShortType
      case "SMALLINT UNSIGNED" => IntegerType
      case "INT UNSIGNED" | "INTEGER UNSIGNED" => LongType
      case "BIGINT UNSIGNED" => DecimalType(20, 0)
      case "REAL" | "FLOAT4" => FloatType
      case "DOUBLE" | "FLOAT8" | "DOUBLE PRECISION" => DoubleType
      case decimalPS(_, p, s) => DecimalType(p.toInt, s.toInt)
      case decimalP(_, p) => DecimalType(p.toInt, 0)
      case "DECIMAL" | "NUMERIC" => DecimalType(38, 10)
      case charN(_, _) | "CHAR" | "CHARACTER" => StringType
      case varcharN(_) | "VARCHAR" | "STRING" | "TEXT" => StringType
      case "BINARY" | "VARBINARY" | "BYTEA" => BinaryType
      case b if b.matches("(BINARY|VARBINARY)\\s*\\(\\d+\\)") =>
        BinaryType
      case "DATE" => DateType
      // Spark 4.1 native TIME (micros precision), gated by
      // spark.sql.timeType.enabled — Pipeline enables it; the Registry's
      // BIGINT nanos-of-day tail (parse_time/format_time/hour_time/…)
      // remains the portable fallback for flag-less sessions
      case "TIME" => TimeType(TimeType.DEFAULT_PRECISION)
      case "TIMESTAMP" => TimestampNTZType
      case p if p.matches("TIMESTAMP\\s*\\(\\d+\\)") => TimestampNTZType
      case "TIMESTAMP WITH TIME ZONE" => TimestampType
      case p if p.matches("TIMESTAMP\\s*\\(\\d+\\)\\s+WITH\\s+TIME\\s+ZONE") =>
        TimestampType
      case "INTERVAL YEAR TO MONTH" => YearMonthIntervalType()
      case "INTERVAL DAY TO SECOND" => DayTimeIntervalType()
      case "UUID" => StringType
      case "VARIANT" => VariantType
      case "NULL" => NullType
      case "GEOMETRY" =>
        StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
      case arrayT(inner) => ArrayType(toSpark(inner))
      case mapT(k, v) => MapType(toSpark(k), toSpark(v))
      case row if row.startsWith("ROW(") && row.endsWith(")") =>
        // ROW(a INT, b VARCHAR NULL) — a per-field nullability marker
        // is accepted and dropped (struct fields are nullable here)
        val body = row.substring(4, row.length - 1)
        val fields = graft.ddl.Ddl.splitTop(body, ',').map { f0 =>
          val f = f0.trim.replaceAll("(?i)\\s+NOT\\s+NULL$", "")
            .replaceAll("(?i)\\s+NULL$", "")
          val sp = f.indexOf(' ')
          require(sp > 0, s"cannot parse ROW field: $f0")
          StructField(f.substring(0, sp).trim.toLowerCase,
            toSpark(f.substring(sp + 1)))
        }
        StructType(fields)
      case other => throw new IllegalArgumentException(s"unknown type: $other")
    }
  }

  /** CHAR(n) store semantics: pad-or-truncate to exactly n. */
  def charN(c: Column, n: Int): Column = rpad(c, n, " ")

  /** Range-checked cast for unsigned widths (ANSI error on violation,
    * matching the reference's runtime errors — types.md:71-82).
    */
  def toUnsigned(c: Column, bits: Int): Column = {
    val (lo, hi, target) = bits match {
      case 8 => (0L, 255L, ShortType: DataType)
      case 16 => (0L, 65535L, IntegerType: DataType)
      case 32 => (0L, 4294967295L, LongType: DataType)
      case 64 => (0L, Long.MaxValue, DecimalType(20, 0): DataType)
      case _ => throw new IllegalArgumentException(s"bits=$bits")
    }
    when(c < lo || (lit(bits) < 64 && c > hi),
      raise_error(concat(lit(s"value out of range for UINT$bits: "),
        c.cast("string"))))
      .otherwise(c).cast(target)
  }

  /** Canonical UUID string (lowercase, hyphenated) from string/binary. */
  def toUuid(c: Column): Column = {
    val hex = lower(regexp_replace(c.cast("string"), "-", ""))
    concat_ws("-",
      substring(hex, 1, 8), substring(hex, 9, 4), substring(hex, 13, 4),
      substring(hex, 17, 4), substring(hex, 21, 12))
  }
}
