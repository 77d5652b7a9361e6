package graft.adhesive

import graft.TestSpark
import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite

/** Semantic-invariant tests (SURVEY §7.5): null slots, exception
  * propagation, exact signatures, volatility, error paths.
  */
class SemanticsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  def fixture(): Unit =
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("a", "b")
      .createOrReplaceTempView("t")

  test("null return produces a null output slot (reference Adhesive.java:94-99)") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_null(BIGINT) RETURNS BIGINT AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class NullOnEven extends Adhesive {
        |  public Object compute(Row row) {
        |    long v = row.getLong(0);
        |    return (v % 2 == 0) ? null : Long.valueOf(v);
        |  }
        |}
        |'""".stripMargin)
    val out = spark.sql("SELECT f_null(a) AS v FROM t ORDER BY a").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq == Seq(Some(1L), None, Some(3L), None))
  }

  test("RETURNS ... NOT NULL elides the null branch; the nullable twin keeps it") {
    // the reference's computeNonNullBigInt fast path (Adhesive.java:105-124)
    // maps to the declared non-nullability: Catalyst must actually USE it —
    // the output slot is non-nullable, a wrapping coalesce/isnull folds
    // away at optimization, and the generated code carries no null branch
    // for the result. The nullable twin of the same body keeps all three.
    // (a Range-backed view, not the LocalRelation fixture — the optimizer
    // materializes projections over local relations outright, which would
    // erase the very expressions under test)
    spark.range(1, 5).selectExpr("id AS a", "id * 10 AS b")
      .createOrReplaceTempView("t_nn")
    for ((ddlName, notNull) <- Seq(("f_nn", true), ("f_nb", false))) {
      val clause = if (notNull) "RETURNS BIGINT NOT NULL" else "RETURNS BIGINT"
      spark.sql(
        s"""CREATE OR REPLACE FUNCTION $ddlName(BIGINT) $clause LANGUAGE JAVA AS '
          |import graft.adhesive.Adhesive;
          |import org.apache.spark.sql.Row;
          |public class Twice extends Adhesive {
          |  public Object compute(Row row) { return row.getLong(0) * 2; }
          |}
          |'""".stripMargin)
    }
    val nn = spark.sql("SELECT coalesce(f_nn(a), -1L) AS v, isnull(f_nn(a)) AS z FROM t_nn")
    val nb = spark.sql("SELECT coalesce(f_nb(a), -1L) AS v, isnull(f_nb(a)) AS z FROM t_nn")
    // 1. plan output nullability reflects the declaration
    assert(!spark.sql("SELECT f_nn(a) AS v FROM t_nn").queryExecution
      .analyzed.output.head.nullable, "NOT NULL output slot must be non-nullable")
    assert(spark.sql("SELECT f_nb(a) AS v FROM t_nn").queryExecution
      .analyzed.output.head.nullable, "default output slot stays nullable")
    // 2. the optimizer drops the null branch only for the NOT NULL variant
    val nnOpt = nn.queryExecution.optimizedPlan.toString
    val nbOpt = nb.queryExecution.optimizedPlan.toString
    assert(!nnOpt.contains("coalesce") && !nnOpt.contains("isnull"),
      s"null branches must fold away for NOT NULL:\n$nnOpt")
    assert(nbOpt.contains("coalesce") && nbOpt.contains("isnull"),
      s"nullable twin must keep its null branches:\n$nbOpt")
    // 3. non-nullability survives to the physical plan (what downstream
    // codegen consumers key their isNull elision on; the runtime guard
    // for a lying function is spec'd in AdhesiveDdlSpec)
    assert(!spark.sql("SELECT f_nn(a) AS v FROM t_nn").queryExecution
      .executedPlan.output.head.nullable)
    assert(spark.sql("SELECT f_nb(a) AS v FROM t_nn").queryExecution
      .executedPlan.output.head.nullable)
    // same values either way (the body never returns null)
    assert(nn.collect().map(_.getLong(0)).toSet == Set(2L, 4L, 6L, 8L))
    assert(nb.collect().map(_.getLong(0)).toSet == Set(2L, 4L, 6L, 8L))
  }

  test("a throwing function fails the query with the function name in the error") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_throws(BIGINT) RETURNS BIGINT LANGUAGE CLASS
        |AS 'graft.adhesive.example.AlwaysThrowsExample'""".stripMargin)
    val e = intercept[Exception] {
      spark.sql("SELECT f_throws(a) FROM t").collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("f_throws") && all.contains("deliberate failure"))
  }

  test("exact signature: mistyped argument fails analysis, no implicit cast") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_exact(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE CLASS
        |AS 'graft.adhesive.example.BasicAddExample'""".stripMargin)
    val e = intercept[Exception] {
      spark.sql("SELECT f_exact(a, 'nope') FROM t").collect()
    }
    assert(e.getMessage.contains("exact type"))
    // INT literal is not BIGINT: exact means exact.
    val e2 = intercept[Exception] {
      spark.sql("SELECT f_exact(a, 5) FROM t").collect()
    }
    assert(e2.getMessage.contains("exact type"))
    // And the properly-typed call works.
    val ok = spark.sql("SELECT f_exact(a, CAST(5 AS BIGINT)) AS v FROM t ORDER BY a")
      .collect().map(_.getLong(0))
    assert(ok.toSeq == Seq(6L, 7L, 8L, 9L))
  }

  test("wrong arity is rejected") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_arity(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE CLASS
        |AS 'graft.adhesive.example.BasicAddExample'""".stripMargin)
    val e = intercept[Exception] { spark.sql("SELECT f_arity(a) FROM t").collect() }
    assert(e.getMessage.contains("takes 2 argument(s)"))
  }

  test("registered functions are volatile: marked nondeterministic in the plan") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_vol(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE CLASS
        |AS 'graft.adhesive.example.BasicAddExample'""".stripMargin)
    val df = spark.sql("SELECT f_vol(a, b) FROM t")
    val hasNondeterministic = df.queryExecution.analyzed.expressions
      .exists(e => e.exists(!_.deterministic))
    assert(hasNondeterministic,
      "adhesive UDF must be nondeterministic (Volatility::Volatile parity)")
  }

  test("DETERMINISTIC opt-in allows direct use inside aggregates") {
    fixture()
    // Volatile default: rejected inside an aggregate.
    spark.sql(
      """CREATE FUNCTION f_vol_agg(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE CLASS
        |AS 'graft.adhesive.example.BasicAddExample'""".stripMargin)
    intercept[Exception] {
      spark.sql("SELECT sum(f_vol_agg(a, b)) FROM t").collect()
    }
    // DETERMINISTIC opt-in: allowed.
    spark.sql(
      """CREATE FUNCTION f_det(BIGINT, BIGINT) RETURNS BIGINT DETERMINISTIC
        |LANGUAGE CLASS AS 'graft.adhesive.example.BasicAddExample'""".stripMargin)
    val s = spark.sql("SELECT sum(f_det(a, b)) AS s FROM t").head().getLong(0)
    assert(s == (11L + 22L + 33L + 44L))
  }

  test("unsupported return type errors at DDL time (src/fusion.rs:86)") {
    // The declarable lattice is closed under returns (round 12), so the
    // reference-parity error is reachable only through the programmatic
    // registration surface with a type the grammar cannot declare.
    val e = intercept[AdhesiveException] {
      AdhesiveRegistry.registerClass(spark, "f_badret",
        "graft.adhesive.example.BasicAddExample",
        Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.CalendarIntervalType)
    }
    assert(e.getMessage.contains("not supported"))
    assert(e.getMessage.contains("STRING"),
      "error text must list the supported matrix including the extensions")
  }

  test("missing body errors: 'class name or class definition should be provided'") {
    val e = intercept[Exception] {
      spark.sql("CREATE FUNCTION f_nobody(BIGINT) RETURNS BIGINT LANGUAGE JAVA")
    }
    assert(e.getMessage.contains("class name or class definition should be provided"))
  }

  test("unknown class errors at DDL time (src/jvm.rs:303-314)") {
    val e = intercept[Exception] {
      spark.sql(
        """CREATE FUNCTION f_missing(BIGINT) RETURNS BIGINT LANGUAGE CLASS
          |AS 'com.example.DoesNotExist'""".stripMargin)
    }
    assert(e.getMessage.contains("not found"))
  }

  test("a class not extending Adhesive is rejected (the TODO'd instanceof check)") {
    val e = intercept[Exception] {
      spark.sql(
        """CREATE FUNCTION f_notadhesive(BIGINT) RETURNS BIGINT LANGUAGE CLASS
          |AS 'java.lang.String'""".stripMargin)
    }
    assert(e.getMessage.contains("does not extend"))
  }

  test("compile failure surfaces at DDL time with diagnostics") {
    val e = intercept[Exception] {
      spark.sql(
        """CREATE FUNCTION f_badsrc(BIGINT) RETURNS BIGINT AS '
          |public class Broken extends NothingThatExists {
          |  public Object compute(org.apache.spark.sql.Row row) { return 1L; }
          |}
          |'""".stripMargin)
    }
    assert(e.getMessage.contains("Can't compile function 'f_badsrc':"),
      e.getMessage)
    assert(e.getMessage.contains("NothingThatExists"))
  }

  test("SQL '' escaping inside the body unescapes to a single quote") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_quote(BIGINT) RETURNS BIGINT AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class Quoted extends Adhesive {
        |  // a char literal: ''x'' must survive the SQL string round-trip
        |  public Object compute(Row row) { return (long) ''x''; }
        |}
        |'""".stripMargin)
    val out = spark.sql("SELECT f_quote(a) AS v FROM t WHERE a = 1").head().getLong(0)
    assert(out == 'x'.toLong)
  }

  test("STRING and mixed argument types flow through the packed Row") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_strlen(STRING, BIGINT) RETURNS BIGINT AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class StrLenPlus extends Adhesive {
        |  public Object compute(Row row) {
        |    return (long) row.getString(0).length() + row.getLong(1);
        |  }
        |}
        |'""".stripMargin)
    val out = spark.sql(
      "SELECT f_strlen('hello', a) AS v FROM t ORDER BY a").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(6L, 7L, 8L, 9L))
  }

  test("INT / FLOAT / DOUBLE return types are wired end-to-end (type matrix)") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_int(BIGINT) RETURNS INT AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class ToInt extends Adhesive {
        |  public Object compute(Row row) { return (int) row.getLong(0); }
        |}
        |'""".stripMargin)
    spark.sql(
      """CREATE FUNCTION f_double(DOUBLE) RETURNS DOUBLE AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class Halve extends Adhesive {
        |  public Object compute(Row row) { return row.getDouble(0) / 2.0; }
        |}
        |'""".stripMargin)
    spark.sql(
      """CREATE FUNCTION f_float(FLOAT) RETURNS FLOAT AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class FNeg extends Adhesive {
        |  public Object compute(Row row) { return -row.getFloat(0); }
        |}
        |'""".stripMargin)
    assert(spark.sql("SELECT f_int(CAST(7 AS BIGINT)) AS v").head().getInt(0) == 7)
    assert(spark.sql("SELECT f_double(CAST(3.0 AS DOUBLE)) AS v").head().getDouble(0) == 1.5)
    assert(spark.sql("SELECT f_float(CAST(2.5 AS FLOAT)) AS v").head().getFloat(0) == -2.5f)
  }

  test("STRING / BOOLEAN return types are wired end-to-end (extended matrix)") {
    fixture()
    spark.sql(
      """CREATE FUNCTION f_str(BIGINT) RETURNS STRING AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class Bucketize extends Adhesive {
        |  public Object compute(Row row) {
        |    long v = row.getLong(0);
        |    if (v % 2 == 0) return null;        // null STRING slot
        |    return "odd:" + v;
        |  }
        |}
        |'""".stripMargin)
    spark.sql(
      """CREATE FUNCTION f_bool(BIGINT) RETURNS BOOLEAN AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class IsBig extends Adhesive {
        |  public Object compute(Row row) { return row.getLong(0) > 2; }
        |}
        |'""".stripMargin)
    val strs = spark.sql("SELECT f_str(a) AS v FROM t ORDER BY a").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getString(0)))
    assert(strs.toSeq == Seq(Some("odd:1"), None, Some("odd:3"), None))
    val bools = spark.sql("SELECT f_bool(a) AS v FROM t ORDER BY a").collect()
      .map(_.getBoolean(0))
    assert(bools.toSeq == Seq(false, false, true, true))
  }

  test("RETURNS STRING NOT NULL: null return fails loudly, non-null elides") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_str_nn(BIGINT) RETURNS STRING NOT NULL AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class LiarStr extends Adhesive {
        |  public Object compute(Row row) {
        |    return row.getLong(0) == 3 ? null : "v" + row.getLong(0);
        |  }
        |}
        |'""".stripMargin)
    // declared non-nullable output slot
    assert(!spark.sql("SELECT f_str_nn(a) AS v FROM t").queryExecution
      .analyzed.output.head.nullable)
    // honest rows work; a NULL actually returned fails the query with the
    // function name (the runtime guard, not a silent corruption)
    val ok = spark.sql("SELECT f_str_nn(a) AS v FROM t WHERE a = 1").head().getString(0)
    assert(ok == "v1")
    val e = intercept[Exception] {
      spark.sql("SELECT f_str_nn(a) AS v FROM t").collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("f_str_nn") && all.contains("NOT NULL"))
  }

  test("DECIMAL(p,s) return type is wired end-to-end (null slot, exact values)") {
    fixture()
    // money math: BigDecimal out, exact at the declared scale; even rows
    // exercise the null DECIMAL slot
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_money(BIGINT) RETURNS DECIMAL(12,2) AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |import java.math.BigDecimal;
        |public class Money extends Adhesive {
        |  public Object compute(Row row) {
        |    long v = row.getLong(0);
        |    if (v % 2 == 0) return null;
        |    return new BigDecimal(v).movePointLeft(2).multiply(new BigDecimal(3));
        |  }
        |}
        |'""".stripMargin)
    val df = spark.sql("SELECT f_money(a) AS m FROM t ORDER BY a")
    assert(df.schema.head.dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    val out = df.collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDecimal(0).toPlainString))
    assert(out.toSeq == Seq(Some("0.03"), None, Some("0.09"), None))
  }

  test("ARRAY<T> return type is wired end-to-end (list out, null slot)") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_arr(BIGINT) RETURNS ARRAY<BIGINT> AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |import java.util.ArrayList;
        |import java.util.List;
        |public class Multiples extends Adhesive {
        |  public Object compute(Row row) {
        |    long v = row.getLong(0);
        |    if (v == 2) return null;           // null ARRAY slot
        |    List<Long> out = new ArrayList<>();
        |    for (long i = 1; i <= v % 4; i++) out.add(v * i);
        |    return out;                        // may be empty (v % 4 == 0)
        |  }
        |}
        |'""".stripMargin)
    val out = spark.sql("SELECT f_arr(a) AS xs FROM t ORDER BY a").collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0).toList)
    assert(out.toSeq == Seq(List(1L), null, List(3L, 6L, 9L), Nil))
  }

  test("RETURNS DECIMAL NOT NULL: null return fails loudly") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_dec_nn(BIGINT) RETURNS DECIMAL(10,2) NOT NULL AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |import java.math.BigDecimal;
        |public class LiarDec extends Adhesive {
        |  public Object compute(Row row) {
        |    return row.getLong(0) == 3 ? null : new BigDecimal(row.getLong(0));
        |  }
        |}
        |'""".stripMargin)
    assert(!spark.sql("SELECT f_dec_nn(a) AS v FROM t").queryExecution
      .analyzed.output.head.nullable)
    assert(spark.sql("SELECT f_dec_nn(a) AS v FROM t WHERE a = 1")
      .head().getDecimal(0).toPlainString == "1.00")
    val e = intercept[Exception] {
      spark.sql("SELECT f_dec_nn(a) AS v FROM t").collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("f_dec_nn") && all.contains("NOT NULL"))
  }

  test("DATE / TIMESTAMP return types are wired end-to-end") {
    fixture()
    // DATE: day-of-epoch from a BIGINT — tz-free LocalDate→java.sql.Date
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_epoch_day(BIGINT) RETURNS DATE AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class EpochDay extends Adhesive {
        |  public Object compute(Row row) {
        |    if (row.getLong(0) % 2 == 0) return null;      // null DATE slot
        |    return java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(row.getLong(0)));
        |  }
        |}
        |'""".stripMargin)
    val dates = spark.sql("SELECT f_epoch_day(a) AS d FROM t ORDER BY a")
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDate(0).toString))
    assert(dates.toSeq == Seq(Some("1970-01-02"), None, Some("1970-01-04"), None))
    // TIMESTAMP: hour floor on epoch millis — matches date_trunc('hour')
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_hour_floor(TIMESTAMP) RETURNS TIMESTAMP AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class HourFloor extends Adhesive {
        |  public Object compute(Row row) {
        |    if (row.isNullAt(0)) return null;
        |    long ms = row.getTimestamp(0).getTime();
        |    return new java.sql.Timestamp(ms - Math.floorMod(ms, 3600000L));
        |  }
        |}
        |'""".stripMargin)
    val got = spark.sql(
      """SELECT f_hour_floor(TIMESTAMP'2024-03-05 14:37:21') AS ts""").head()
      .getTimestamp(0)
    val want = spark.sql(
      """SELECT date_trunc('hour', TIMESTAMP'2024-03-05 14:37:21') AS ts""")
      .head().getTimestamp(0)
    assert(got == want)
  }

  test("STRUCT return type: multi-output UDF builds a struct column") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_divmod(BIGINT, BIGINT) RETURNS STRUCT<q: BIGINT, r: BIGINT> AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |import org.apache.spark.sql.RowFactory;
        |public class DivMod extends Adhesive {
        |  public Object compute(Row row) {
        |    if (row.isNullAt(0) || row.isNullAt(1) || row.getLong(1) == 0) return null;
        |    return RowFactory.create(row.getLong(0) / row.getLong(1),
        |                             row.getLong(0) % row.getLong(1));
        |  }
        |}
        |'""".stripMargin)
    val df = spark.sql(
      "SELECT f_divmod(b, a).q AS q, f_divmod(b, a).r AS r FROM t ORDER BY a")
    assert(df.schema.map(_.dataType).forall(_ ==
      org.apache.spark.sql.types.LongType))
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((10L, 0L), (10L, 0L), (10L, 0L), (10L, 0L)))
    // null slot: a zero divisor nulls the whole struct
    assert(spark.sql("SELECT f_divmod(b, CAST(0 AS BIGINT)) AS s FROM t")
      .collect().forall(_.isNullAt(0)))
  }

  test("MAP / BINARY return types are wired end-to-end (lattice closure)") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_kv(BIGINT) RETURNS MAP<STRING, BIGINT> AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |import java.util.HashMap;
        |import java.util.Map;
        |public class Kv extends Adhesive {
        |  public Object compute(Row row) {
        |    if (row.getLong(0) == 2) return null;       // null MAP slot
        |    Map<String, Long> m = new HashMap<>();
        |    m.put("v", row.getLong(0));
        |    m.put("sq", row.getLong(0) * row.getLong(0));
        |    return m;
        |  }
        |}
        |'""".stripMargin)
    val maps = spark.sql("SELECT f_kv(a) AS m FROM t ORDER BY a").collect()
      .map(r => if (r.isNullAt(0)) null else r.getMap[String, Long](0).toMap)
    assert(maps.toSeq == Seq(Map("v" -> 1L, "sq" -> 1L), null,
      Map("v" -> 3L, "sq" -> 9L), Map("v" -> 4L, "sq" -> 16L)))
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_bytes(BIGINT) RETURNS BINARY AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class Bytes extends Adhesive {
        |  public Object compute(Row row) {
        |    return java.nio.ByteBuffer.allocate(8).putLong(row.getLong(0)).array();
        |  }
        |}
        |'""".stripMargin)
    val bytes = spark.sql("SELECT f_bytes(a) AS b FROM t WHERE a = 3").head()
      .getAs[Array[Byte]](0)
    assert(java.nio.ByteBuffer.wrap(bytes).getLong == 3L)
  }

  test("MAP<K,V> argument: getJavaMap access, exactness on the value type") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_mapget(MAP<STRING, BIGINT>, STRING) RETURNS BIGINT AS '
        |import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class MapGet extends Adhesive {
        |  public Object compute(Row row) {
        |    if (row.isNullAt(0) || row.isNullAt(1)) return null;
        |    return row.<String, Long>getJavaMap(0).get(row.getString(1));
        |  }
        |}
        |'""".stripMargin)
    val got = spark.sql(
      """SELECT f_mapget(map('a', a, 'b', b), 'b') AS v FROM t ORDER BY a""")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(10L, 20L, 30L, 40L))
    // missing key → null slot
    assert(spark.sql("SELECT f_mapget(map('a', a), 'zzz') AS v FROM t")
      .collect().forall(_.isNullAt(0)))
    // MAP<STRING,INT> where MAP<STRING,BIGINT> is declared: exact-type error
    val e = intercept[Exception] {
      spark.sql("SELECT f_mapget(map('a', CAST(1 AS INT)), 'a') FROM t").collect()
    }
    assert(e.getMessage.contains("exact type"))
  }

  test("LANGUAGE SCALA body returning scala BigDecimal rides the lenient path") {
    fixture()
    spark.sql(
      """CREATE OR REPLACE FUNCTION f_scala_dec(BIGINT) RETURNS DECIMAL(10,2) LANGUAGE SCALA AS $$
        |import graft.adhesive.Adhesive
        |import org.apache.spark.sql.Row
        |class ScalaDec extends Adhesive {
        |  def compute(row: Row): Any = BigDecimal(row.getLong(0)) / 4
        |}
        |$$""".stripMargin)
    val out = spark.sql("SELECT f_scala_dec(a) AS v FROM t ORDER BY a")
      .collect().map(_.getDecimal(0).toPlainString)
    assert(out.toSeq == Seq("0.25", "0.50", "0.75", "1.00"))
  }

  test("byte-identical source re-registration hits the compile cache") {
    val src =
      """import graft.adhesive.Adhesive;
        |import org.apache.spark.sql.Row;
        |public class CacheProbe extends Adhesive {
        |  public Object compute(Row row) { return row.getLong(0) + 100L; }
        |}""".stripMargin
    val before = AdhesiveRegistry.compileCacheSize
    AdhesiveRegistry.registerJavaSource(spark, "f_cache_a", src,
      Seq(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType)
    val afterFirst = AdhesiveRegistry.compileCacheSize
    assert(afterFirst == before + 1, "first registration compiles and caches")
    // same body under a new name (and an OR REPLACE of the old one):
    // no second javac run, and both functions answer correctly
    AdhesiveRegistry.registerJavaSource(spark, "f_cache_b", src,
      Seq(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType)
    AdhesiveRegistry.registerJavaSource(spark, "f_cache_a", src,
      Seq(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType)
    assert(AdhesiveRegistry.compileCacheSize == afterFirst,
      "re-registration of identical source must not recompile")
    assert(spark.sql("SELECT f_cache_a(CAST(1 AS BIGINT)) AS v").head().getLong(0) == 101L)
    assert(spark.sql("SELECT f_cache_b(CAST(2 AS BIGINT)) AS v").head().getLong(0) == 102L)
    // a different body is a different cache entry (no false sharing)
    AdhesiveRegistry.registerJavaSource(spark, "f_cache_c",
      src.replace("+ 100L", "+ 200L"),
      Seq(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType)
    assert(AdhesiveRegistry.compileCacheSize == afterFirst + 1)
    assert(spark.sql("SELECT f_cache_c(CAST(1 AS BIGINT)) AS v").head().getLong(0) == 201L)
  }
}
