package perfbench

import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What one op reports back: its own wall (DDL plus first query), any
  * sub-timings in ms, and whether its output was right.
  */
final case class OpResult(wallNs: Long, parts: Map[String, Double] = Map.empty, ok: Boolean = true)

/** One client op. `group` names the unit a failed output check charges
  * (a function, or a catalogue entry).
  */
final case class Op(name: String, group: String, run: Ctx => OpResult)

/** A workload: untimed set-up, the fixed op list of one pass, and the
  * untimed output check that runs after the timed passes.
  */
trait Workload {
  def name: String
  /** Set-up steps repeated `reps` times (the median counts in setup_s). */
  def repeatedSetup(ctx: Ctx): Unit
  /** Set-up that runs once after the repeated part (warm-up passes). */
  def onceSetup(ctx: Ctx): Unit
  def pass(passNo: Int): Seq[Op]
  /** Untimed output check; returns the groups whose output was wrong. */
  def check(ctx: Ctx): Seq[String]
  /** Lines that fingerprint the generated inputs (same seed, same lines). */
  def fingerprint(ctx: Ctx): Seq[String]
  /** Workload-specific metrics from the timed ops, by name. */
  def metrics(results: Seq[(Op, OpResult)]): Map[String, Double] = Map.empty
  /** Input rows each op feeds through its function (udf_scan only). */
  def rowsPerOp: Long = 0L
}

/** State shared by a run's ops. */
final class Ctx(val spark: SparkSession, val seed: Long, val tiny: Boolean,
    val scratch: String, val dataDir: String) {
  @volatile var trace: Option[Trace] = None
  @volatile var opId: Int = 0

  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally trace.foreach(_.spans.add(Span(opId, layer, name, t0, System.currentTimeMillis())))
  }

  def timedNs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "udf_scan" => new UdfScan
    case "ddl_churn" => new DdlChurn
    case "catalog" => new Catalog
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-insensitive digest of a result: row count and the wrapping sum
    * of a 64-bit hash of each row's canonical text, columns taken in name
    * order. Doubles keep 9 significant digits and floats 6, so the digest
    * does not depend on the order partial sums were combined in.
    */
  def digest(df: DataFrame): (Long, String) = {
    val fields = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    df.toLocalIterator().asScala.foreach { row =>
      val text = fields.map(i => canon(row.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(text, 17).toLong << 32) ^
        (MurmurHash3.stringHash(text, 91).toLong & 0xffffffffL)
      sum += h
      n += 1
    }
    (n, f"$sum%016x")
  }

  private def roundSig(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits))
      .stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => roundSig(d, 9)
    case f: Float => roundSig(f.toDouble, 6)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  /** Seeded constant in [1, mod] from a seed and a few indices. */
  def constant(mod: Int, parts: Long*): Long = {
    val h = MurmurHash3.orderedHash(parts.map(_.toString))
    1L + java.lang.Math.floorMod(h.toLong, mod.toLong)
  }
}

/** `udf_scan`: ten adhesive functions, each once per pass beside its native
  * twin, over a seeded parquet table, in the reference's golden query
  * shape `SELECT ..., f(...) FROM t`, written to the noop sink.
  */
final class UdfScan extends Workload {
  val name = "udf_scan"
  private var k = 0L
  private var rows = 0L
  private def path(ctx: Ctx) = s"${ctx.scratch}/udf_t"

  /** (function, adhesive query, native twin, output columns to digest). */
  private def queries: Seq[(String, String, String, String)] = Seq(
    ("bigint", "SELECT a, b, p_bigint(a, b) AS r FROM t", s"SELECT a, b, a * b + $k AS r FROM t", "a, b, r"),
    ("bigint_det", "SELECT a, b, p_bigint_det(a, b) AS r FROM t",
      s"SELECT a, b, a - b * $k AS r FROM t", "a, b, r"),
    ("scala", "SELECT a, b, p_scala(a, b) AS r FROM t", s"SELECT a, b, a * $k + b AS r FROM t", "a, b, r"),
    ("class", "SELECT a, b, p_class(a, b) AS r FROM t", "SELECT a, b, a + b AS r FROM t", "a, b, r"),
    ("string", "SELECT s, p_string(s) AS r FROM t", s"SELECT s, concat(upper(s), '-$k') AS r FROM t", "s, r"),
    ("decimal", "SELECT d, p_decimal(d) AS r FROM t",
      s"SELECT d, CAST(d * 100 AS BIGINT) + $k AS r FROM t", "d, r"),
    ("array", "SELECT a, p_array(arr) AS r FROM t",
      s"SELECT a, aggregate(arr, CAST($k AS BIGINT), (acc, x) -> acc + x) AS r FROM t", "a, r"),
    ("struct", "SELECT a, b, p_struct(a, b) AS r FROM t",
      s"SELECT a, b, named_struct('s', a + b + $k, 'p', a * b) AS r FROM t", "a, b, r.s, r.p"),
    ("agg", "SELECT pmod(b, 16) AS g, p_agg(a) AS r FROM t GROUP BY pmod(b, 16)",
      s"SELECT pmod(b, 16) AS g, sum(a + $k) AS r FROM t GROUP BY pmod(b, 16)", "g, r"),
    ("table", "SELECT t.a, u.pos, u.v FROM t, LATERAL p_table(t.arr) u",
      s"SELECT t.a, e.pos, e.v + $k AS v FROM t LATERAL VIEW posexplode(arr) e AS pos, v", "a, pos, v"))

  private def ddls(k: Long): Seq[String] = {
    def java(fn: String, sig: String, body: String, base: String = "Adhesive") =
      s"""CREATE OR REPLACE $sig LANGUAGE JAVA AS '
         |import graft.adhesive.$base;
         |import org.apache.spark.sql.Row;
         |import org.apache.spark.sql.RowFactory;
         |public class P_$fn extends $base {
         |$body
         |}
         |'""".stripMargin
    Seq(
      java("bigint", "FUNCTION p_bigint(BIGINT, BIGINT) RETURNS BIGINT",
        s"  public Object compute(Row r) { return r.getLong(0) * r.getLong(1) + ${k}L; }"),
      java("bigint_det", "FUNCTION p_bigint_det(BIGINT, BIGINT) RETURNS BIGINT DETERMINISTIC",
        s"  public Object compute(Row r) { return r.getLong(0) - r.getLong(1) * ${k}L; }"),
      s"""CREATE OR REPLACE FUNCTION p_scala(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE SCALA AS $$$$
         |import graft.adhesive.Adhesive
         |import org.apache.spark.sql.Row
         |class P_scala extends Adhesive {
         |  def compute(r: Row): Any = r.getLong(0) * ${k}L + r.getLong(1)
         |}
         |$$$$""".stripMargin,
      "CREATE OR REPLACE FUNCTION p_class(BIGINT, BIGINT) RETURNS BIGINT " +
        "LANGUAGE CLASS AS 'graft.adhesive.example.BasicAddExample'",
      java("string", "FUNCTION p_string(STRING) RETURNS STRING",
        s"""  public Object compute(Row r) {
           |    return r.getString(0).toUpperCase(java.util.Locale.ROOT) + "-$k";
           |  }""".stripMargin),
      java("decimal", "FUNCTION p_decimal(DECIMAL(12,2)) RETURNS BIGINT",
        s"  public Object compute(Row r) { return r.getDecimal(0).movePointRight(2).longValueExact() + ${k}L; }"),
      java("array", "FUNCTION p_array(ARRAY<BIGINT>) RETURNS BIGINT",
        s"""  public Object compute(Row r) {
           |    java.util.List<Long> xs = r.getList(0);
           |    long s = ${k}L;
           |    for (int i = 0; i < xs.size(); i++) s += xs.get(i);
           |    return s;
           |  }""".stripMargin),
      java("struct", "FUNCTION p_struct(BIGINT, BIGINT) RETURNS STRUCT<s: BIGINT, p: BIGINT>",
        s"""  public Object compute(Row r) {
           |    long a = r.getLong(0), b = r.getLong(1);
           |    return RowFactory.create(a + b + ${k}L, a * b);
           |  }""".stripMargin),
      java("agg", "AGGREGATE FUNCTION p_agg(BIGINT) RETURNS BIGINT",
        s"""  public Object zero() { return 0L; }
           |  public Object reduce(Object s, Row in) { return (Long) s + in.getLong(0) + ${k}L; }
           |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }""".stripMargin,
        "AdhesiveAggregate"),
      java("table", "TABLE FUNCTION p_table(ARRAY<BIGINT>) RETURNS TABLE(pos INT, v BIGINT)",
        s"""  public java.util.List<Row> eval(Row r) {
           |    java.util.List<Row> out = new java.util.ArrayList<>();
           |    java.util.List<Long> xs = r.getList(0);
           |    for (int i = 0; i < xs.size(); i++) out.add(RowFactory.create(i, xs.get(i) + ${k}L));
           |    return out;
           |  }""".stripMargin,
        "AdhesiveTableFunction"))
  }

  def repeatedSetup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    rows = if (ctx.tiny) 20000L else 500000L
    val parts = spark.sparkContext.defaultParallelism * 2
    spark.range(0, rows, 1, parts).selectExpr(
      s"pmod(xxhash64(id, $seed), 1000000) AS a",
      s"pmod(xxhash64(id, ${seed + 1}), 1000) AS b",
      s"CAST(pmod(xxhash64(id, ${seed + 2}), 100000000) AS DOUBLE) / 1000.0 AS x",
      s"CAST(CAST(pmod(xxhash64(id, ${seed + 3}), 1000000000) AS DECIMAL(12,0)) / 100 AS DECIMAL(12,2)) AS d",
      s"concat('k', lower(conv(pmod(xxhash64(id, ${seed + 4}), 1000000000000), 10, 36))) AS s",
      s"transform(sequence(0, CAST(pmod(xxhash64(id, ${seed + 5}), 6) AS INT)), " +
        s"i -> pmod(xxhash64(id, i, ${seed + 6}), 1000)) AS arr")
      .write.mode("overwrite").parquet(path(ctx))
    spark.read.parquet(path(ctx)).createOrReplaceTempView("t")
  }

  private var wrong: Seq[String] = Nil

  /** Compiles the ten functions, runs the output check, then two warm-up
    * passes: the check's aggregates leave the JIT in another state than the
    * timed queries need, and after one warm-up pass the first timed pass
    * still ran 1.5x slower than the next.
    */
  def onceSetup(ctx: Ctx): Unit = {
    k = Workloads.constant(997, ctx.seed)
    ddls(k).foreach(ctx.spark.sql)
    wrong = queries.flatMap { case (fn, adhesive, native, cols) =>
      val got = ctx.spark.sql(digestSql(adhesive, cols)).head()
      val want = ctx.spark.sql(digestSql(native, cols)).head()
      if (got == want && got.getLong(0) > 0) None
      else {
        System.err.println(s"[perfbench] udf_scan $fn: adhesive digest $got != native $want")
        Some(fn)
      }
    }
    (pass(-1) ++ pass(0)).foreach(_.run(ctx))
  }

  def pass(passNo: Int): Seq[Op] = queries.flatMap { case (fn, adhesive, native, _) =>
    Seq(Op(s"adhesive.$fn", fn, run(adhesive)), Op(s"native.$fn", fn, run(native)))
  }

  private def run(sql: String)(ctx: Ctx): OpResult = {
    val (_, ns) = ctx.timedNs(ctx.noop(ctx.span("build", "sql")(ctx.spark.sql(sql))))
    OpResult(ns)
  }

  private def digestSql(q: String, cols: String) =
    s"SELECT count(*) AS n, sum(pmod(xxhash64($cols), 2147483647)) AS h FROM ($q)"

  /** Every adhesive output's digest must equal its native twin's; computed
    * in set-up, over the same table and functions the timed passes use.
    */
  def check(ctx: Ctx): Seq[String] = wrong

  def fingerprint(ctx: Ctx): Seq[String] = {
    val t = ctx.spark.sql(digestSql("SELECT * FROM t", "a, b, x, d, s, arr")).head()
    Seq(s"table rows=${t.getLong(0)} digest=${t.getLong(1)}",
      s"ddl digest=${MurmurHash3.orderedHash(ddls(k))}",
      s"query order=${pass(1).map(_.name).mkString(",")}")
  }

  override def rowsPerOp: Long = rows

  override def metrics(results: Seq[(Op, OpResult)]): Map[String, Double] = {
    val adhesive = results.filter(_._1.name.startsWith("adhesive."))
    Map("udf_rows_per_s" -> adhesive.size * rows / (adhesive.map(_._2.wallNs).sum / 1e9))
  }
}

/** `ddl_churn`: each op is one `CREATE OR REPLACE [AGGREGATE|TABLE]
  * FUNCTION` followed by a query over 1k rows whose answer the benchmark
  * computes itself. Unique bodies carry constants from the seed, the pass
  * and the op index, so they miss the compile cache; repeated bodies are
  * byte-identical across passes, so they hit it after the warm-up pass.
  */
final class DdlChurn extends Workload {
  val name = "ddl_churn"
  private var as: Array[Long] = Array.empty
  private var bs: Array[Long] = Array.empty
  private var arrs: Array[Array[Long]] = Array.empty
  private var seed = 0L

  /** (kind, unique body?) for one pass, in a fixed order: 7 unique bodies
    * and 3 repeated ones (30%). The order is not seeded: which compiler
    * runs after which moves a pass by more than the seeds' constants do.
    */
  private val Mix: Seq[(String, Boolean)] = Seq("java" -> true, "scala" -> true, "agg" -> true,
    "java" -> false, "table" -> true, "java" -> true, "class" -> false, "agg" -> true,
    "scala" -> false, "java" -> true)

  def repeatedSetup(ctx: Ctx): Unit = {
    seed = ctx.seed
    val rnd = new Random(seed)
    val n = 1000
    as = Array.fill(n)(rnd.nextInt(100000).toLong)
    bs = Array.fill(n)(rnd.nextInt(1000).toLong)
    arrs = Array.fill(n)(Array.fill(1 + rnd.nextInt(4))(rnd.nextInt(1000).toLong))
    val schema = StructType(Seq(StructField("a", LongType, false), StructField("b", LongType, false),
      StructField("arr", ArrayType(LongType, false), false)))
    val data = (0 until n).map(i => Row(as(i), bs(i), arrs(i).toSeq))
    ctx.spark.createDataFrame(data.asJava, schema).createOrReplaceTempView("c")
  }

  /** Two warm-up passes with their own constants: they warm the compilers. */
  def onceSetup(ctx: Ctx): Unit = (pass(-1) ++ pass(0)).foreach(_.run(ctx))

  def pass(passNo: Int): Seq[Op] = Mix.indices.map { i =>
    val (kind, unique) = Mix(i)
    val c = constant(passNo, i)
    val miss = if (kind == "class") "class" else if (unique) "miss" else "hit"
    Op(s"$kind.$miss", s"$kind.$miss", op(kind, c, i, miss))
  }

  /** A unique body's constant depends on the pass; a repeated one's not. */
  private def constant(passNo: Int, i: Int): Long =
    if (Mix(i)._2) Workloads.constant(1000003, seed, passNo, i) else Workloads.constant(1000003, seed, i)

  private def ddl(kind: String, c: Long, i: Int): String = {
    def java(sig: String, base: String, body: String) =
      s"""CREATE OR REPLACE $sig LANGUAGE JAVA AS '
         |import graft.adhesive.$base;
         |import org.apache.spark.sql.Row;
         |import org.apache.spark.sql.RowFactory;
         |public class Churn$i extends $base {
         |$body
         |}
         |'""".stripMargin
    kind match {
      case "java" => java("FUNCTION churn_java(BIGINT, BIGINT) RETURNS BIGINT", "Adhesive",
        s"  public Object compute(Row r) { return r.getLong(0) * ${c}L + r.getLong(1); }")
      case "scala" =>
        s"""CREATE OR REPLACE FUNCTION churn_scala(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE SCALA AS $$$$
           |import graft.adhesive.Adhesive
           |import org.apache.spark.sql.Row
           |class Churn$i extends Adhesive {
           |  def compute(r: Row): Any = r.getLong(0) + r.getLong(1) * ${c}L
           |}
           |$$$$""".stripMargin
      case "class" => "CREATE OR REPLACE FUNCTION churn_class(BIGINT, BIGINT) RETURNS BIGINT " +
        "LANGUAGE CLASS AS 'graft.adhesive.example.BasicAddExample'"
      case "agg" => java("AGGREGATE FUNCTION churn_agg(BIGINT) RETURNS BIGINT", "AdhesiveAggregate",
        s"""  public Object zero() { return 0L; }
           |  public Object reduce(Object s, Row in) { return (Long) s + in.getLong(0) * ${c}L; }
           |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }""".stripMargin)
      case "table" => java("TABLE FUNCTION churn_table(ARRAY<BIGINT>) RETURNS TABLE(pos INT, v BIGINT)",
        "AdhesiveTableFunction",
        s"""  public java.util.List<Row> eval(Row r) {
           |    java.util.List<Row> out = new java.util.ArrayList<>();
           |    java.util.List<Long> xs = r.getList(0);
           |    for (int i = 0; i < xs.size(); i++) out.add(RowFactory.create(i, xs.get(i) * ${c}L));
           |    return out;
           |  }""".stripMargin)
    }
  }

  /** The op's query and the answer the benchmark expects from it. */
  private def query(kind: String, c: Long): (String, Seq[Long]) = kind match {
    case "java" => ("SELECT sum(r) FROM (SELECT churn_java(a, b) AS r FROM c)",
      Seq(as.indices.map(i => as(i) * c + bs(i)).sum))
    case "scala" => ("SELECT sum(r) FROM (SELECT churn_scala(a, b) AS r FROM c)",
      Seq(as.indices.map(i => as(i) + bs(i) * c).sum))
    case "class" => ("SELECT sum(r) FROM (SELECT churn_class(a, b) AS r FROM c)",
      Seq(as.indices.map(i => as(i) + bs(i)).sum))
    case "agg" => ("SELECT churn_agg(a) FROM c", Seq(as.map(_ * c).sum))
    case "table" => ("SELECT count(*), sum(u.v) FROM c, LATERAL churn_table(c.arr) u",
      Seq(arrs.map(_.length.toLong).sum, arrs.map(_.map(_ * c).sum).sum))
  }

  private def op(kind: String, c: Long, i: Int, miss: String)(ctx: Ctx): OpResult = {
    val spark = ctx.spark
    val (sql, want) = query(kind, c)
    def answer(): Seq[Long] = {
      val row = ctx.span("build", "sql")(spark.sql(sql)).head()
      (0 until row.length).map(row.getLong)
    }
    val t0 = System.nanoTime()
    ctx.span("build", "ddl")(spark.sql(ddl(kind, c, i)))
    val t1 = System.nanoTime()
    val first = answer()
    val t2 = System.nanoTime()
    // a second, warm call of the same function; not part of the op's wall
    val second = answer()
    val t3 = System.nanoTime()
    val ok = first == want && second == want
    if (!ok) System.err.println(s"[perfbench] ddl_churn $kind c=$c: got $first / $second, want $want")
    OpResult(t2 - t0, Map(s"ddl_$miss" -> (t1 - t0) / 1e6, "first_call" -> (t2 - t1) / 1e6,
      "warm_call" -> (t3 - t2) / 1e6, "ddl" -> (t1 - t0) / 1e6), ok)
  }

  def check(ctx: Ctx): Seq[String] = Nil // every op checks its own answer

  def fingerprint(ctx: Ctx): Seq[String] = {
    val rows = as.indices.map(i => s"${as(i)},${bs(i)},${arrs(i).mkString(":")}")
    val bodies = (1 to 3).flatMap(p => Mix.indices.map(i => ddl(Mix(i)._1, constant(p, i), i)))
    Seq(s"table rows=${as.length} digest=${MurmurHash3.orderedHash(rows)}",
      s"ddl digest=${MurmurHash3.orderedHash(bodies)}",
      s"query order=${Mix.map(_._1).mkString(",")}")
  }

  override def metrics(results: Seq[(Op, OpResult)]): Map[String, Double] = {
    def part(key: String) = results.flatMap(_._2.parts.get(key))
    val ddl = part("ddl")
    Map("adhesive.ddl_miss_ms" -> Stats.median(part("ddl_miss")),
      "adhesive.ddl_hit_ms" -> Stats.median(part("ddl_hit")),
      "adhesive.ddl_class_ms" -> Stats.median(part("ddl_class")),
      "adhesive.first_call_ms" -> Stats.median(part("first_call")),
      "adhesive.warm_call_ms" -> Stats.median(part("warm_call")),
      "ddl_p50_ms" -> Stats.median(ddl),
      "ddl_p90_ms" -> Stats.quantile(ddl, 0.9),
      "udf_rows_per_s" -> results.size * as.length /
        (results.map(_._2.parts("first_call")).sum / 1e3))
  }
}

/** `catalog`: fixed read and write `SparkEntry.queries` entries on
  * the bundled tables, in an order the seed permutes. Each op builds the
  * entry's DataFrame and writes it to the noop sink.
  */
final class Catalog extends Workload {
  val name = "catalog"
  private val entries = Catalog.Read ++ Catalog.Write
  private var order: Seq[String] = entries
  private var expected: Map[String, (Long, String)] = Map.empty
  private lazy val queries = graft.SparkEntry.queries

  def repeatedSetup(ctx: Ctx): Unit = {
    order = new Random(ctx.seed).shuffle(entries.toVector)
    if (ctx.tiny) order = order.take(3)
    val missing = order.filterNot(queries.contains)
    require(missing.isEmpty, s"catalogue entries not in SparkEntry.queries: $missing")
    expected = Catalog.loadDigests(s"${ctx.dataDir}/../catalog_digests.tsv")
  }

  /** A cold pass (codegen, class loading, file footers) and a warm one. */
  def onceSetup(ctx: Ctx): Unit = (pass(-1) ++ pass(0)).foreach(_.run(ctx))

  def pass(passNo: Int): Seq[Op] = order.map(e => Op(e, e, run(e)))

  private def build(ctx: Ctx, entry: String): DataFrame =
    ctx.span("build", entry)(queries(entry)(ctx.spark, ctx.dataDir))

  private def run(entry: String)(ctx: Ctx): OpResult = {
    ctx.spark.catalog.clearCache()
    val (_, ns) = ctx.timedNs(ctx.noop(build(ctx, entry)))
    OpResult(ns)
  }

  /** Writes each entry's output as parquet and the entries' oracle SQL as
    * JSON, for the DuckDB cross-check.
    */
  def dump(ctx: Ctx, dir: String): Unit = {
    entries.foreach(e => build(ctx, e).write.mode("overwrite").parquet(s"$dir/$e"))
    val oracle = graft.SparkEntry.oracleSql.filter(q => entries.contains(q._1)).toSeq.sorted
      .map { case (e, sql) => s"${Json.str(e)}: ${Json.str(sql)}" }
    val pw = new java.io.PrintWriter(s"$dir/oracle_sql.json", "UTF-8")
    try pw.println(oracle.mkString("{\n", ",\n", "\n}")) finally pw.close()
  }

  def outputs(ctx: Ctx): Seq[(String, (Long, String))] =
    order.map(e => e -> Workloads.digest(build(ctx, e)))

  def check(ctx: Ctx): Seq[String] = outputs(ctx).flatMap { case (e, got) =>
    expected.get(e) match {
      case Some(want) if want == got => None
      case want =>
        System.err.println(s"[perfbench] $name $e: got rows=${got._1} digest=${got._2}, " +
          s"want ${want.fold("no recorded digest")(w => s"rows=${w._1} digest=${w._2}")}")
        Some(e)
    }
  }

  def fingerprint(ctx: Ctx): Seq[String] = Seq(s"query order=${order.mkString(",")}")
}

object Catalog {
  /** Read-only entries from the `graft.Bench.Headline` set, one per query
    * family: aggregation, adhesive, dedup, ANN and text.
    */
  val Read: Seq[String] = Seq("q1_pricing_summary", "aq_mul_java", "dd_exact",
    "ann_bruteforce_topk", "ta_quality_score")
  /** Write entries: a versioned-table commit path and a streaming drain
    * with dedup state.
    */
  val Write: Seq[String] = Seq("pipe_versioned_table", "ev_stream_dedup")

  def loadDigests(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
        val Array(name, rows, digest) = l.trim.split("\t")
        name -> (rows.toLong, digest)
      }.toMap
      finally src.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def fmt(x: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(x))
}
