package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Closed-loop, one-client benchmark of adhesivespark on `local[nproc]`.
  *
  * {{{
  * PerfBench --workload <udf_scan|ddl_churn|catalog>
  *   --seed <n> --seconds <s> --trace <0|1> --scratch <dir> --data <dir> --out <dir>
  *   [--size tiny] [--record-digests <file>] [--dump <dir>]
  * }}}
  *
  * After set-up it runs whole passes over the workload's op list until
  * `--seconds` have been measured, checks every output, and prints a
  * table of metrics followed by one JSON line. With `--trace 1` untraced
  * and traced passes alternate: the traced ones give the per-layer
  * metrics, the difference between the two kinds is the tracing overhead.
  */
object PerfBench {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scratch: String, data: String, out: String, tiny: Boolean,
      recordDigests: Option[String], dump: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("scratch"), need("data"), need("out"), m.get("size").contains("tiny"),
      m.get("record-digests"), m.get("dump"))
  }

  /** A timed op of one pass. */
  final case class Done(pass: Int, index: Int, traced: Boolean, opId: Int, op: Op, startMs: Long,
      endMs: Long, totalNs: Long, result: Option[OpResult])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.adhesive.AdhesiveSparkExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.local.dir", s"${o.scratch}/local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val code =
      try run(o, spark, cpus, sessionS)
      finally spark.stop()
    System.exit(code)
  }

  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  /** One pass over the op list, as the sum over the list of each op's
    * fastest time across the run's timed passes (ops are matched by their
    * place in the list). Host noise only ever adds time, so best-of-N per
    * op, the protocol `graft.Bench` uses too, keeps one slow op in one pass
    * from moving the run; the median over runs then gives the typical run.
    */
  def bestPassS(done: Seq[Done]): Double =
    done.groupMapReduce(_.index)(_.totalNs)(math.min).values.sum / 1e9

  private def run(o: Opts, spark: SparkSession, cpus: Int, sessionS: Double): Int = {
    val w = Workloads(o.workload)
    val ctx = new Ctx(spark, o.seed, o.tiny, o.scratch, new File(o.data).getAbsolutePath)
    val reps = if (o.tiny) 1 else 3
    val repMs = (1 to reps).map { _ => val t0 = System.nanoTime(); w.repeatedSetup(ctx); ms(t0) }
    val t0 = System.nanoTime()
    w.onceSetup(ctx)
    val onceMs = ms(t0)
    val setupS = sessionS + (Stats.median(repMs) + onceMs) / 1e3
    System.err.println(s"[perfbench] set-up: session ${Stats.fmt(sessionS)} s, repeated " +
      s"${repMs.map(m => Stats.fmt(m / 1e3)).mkString("/")} s, once ${Stats.fmt(onceMs / 1e3)} s")

    if (o.recordDigests.isDefined || o.dump.isDefined) return record(o, w, ctx)

    println(s"perfbench workload=${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"cpus=$cpus seconds=${o.seconds}")
    w.fingerprint(ctx).foreach(l => println(s"input $l"))

    val trace = if (o.trace) Some(new Trace(spark)) else None
    val done = ArrayBuffer.empty[Done]
    val passS = ArrayBuffer.empty[(Boolean, Double)]
    val refS = ArrayBuffer.empty[(Boolean, Double)]
    val classes = ArrayBuffer.empty[Long]
    var tmpBytes = 0L
    var tmpBytesMax = 0L
    val measureStart = System.nanoTime()
    var passNo = 0
    def elapsedS = (System.nanoTime() - measureStart) / 1e9
    def nextFits = passS.isEmpty || elapsedS + passS.last._2 <= o.seconds
    // at least two passes: a median, and in trace mode one pass of each kind
    while (passS.size < 2 || nextFits) {
      passNo += 1
      val traced = o.trace && passNo % 2 == 0
      System.gc()
      refS += traced -> Reference.seconds(spark, cpus)
      if (traced) trace.foreach(_.attach())
      ctx.trace = if (traced) trace else None
      val c0 = Trace.loadedClasses
      val p0 = System.nanoTime()
      w.pass(passNo).zipWithIndex.foreach { case (op, index) =>
        ctx.opId += 1
        val s = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val r = try Some(op.run(ctx)) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${o.workload} ${op.name} failed: $e")
            None
        }
        val e = System.currentTimeMillis()
        trace.filter(_ => traced).foreach(_.spans.add(Span(ctx.opId, "op", op.name, s, e)))
        done += Done(passNo, index, traced, ctx.opId, op, s, e, System.nanoTime() - t0, r)
        if (o.trace) {
          tmpBytes = Dirs.bytes(new File(o.scratch, "tmp")) + Dirs.bytes(new File(o.scratch, "local"))
          tmpBytesMax = math.max(tmpBytesMax, tmpBytes)
        }
      }
      passS += traced -> (System.nanoTime() - p0) / 1e9
      System.err.println(s"[perfbench] pass $passNo${if (traced) " (traced)" else ""}: " +
        s"${Stats.fmt(passS.last._2)} s; ops " + done.filter(_.pass == passNo)
          .map(d => s"${d.op.name}=${d.result.fold("failed")(r => Stats.fmt(r.wallNs / 1e9))}").mkString(" "))
      if (traced) {
        classes += Trace.loadedClasses - c0
        trace.foreach(_.detach())
      }
      ctx.trace = None
    }
    val measuredS = elapsedS

    val bad = w.check(ctx).toSet
    val failedOps = done.filter(d => d.result.forall(!_.ok) || bad.contains(d.op.group))
    val attempted = done.size
    val heapMb = Trace.heapLiveMb() * 1048576 / 1e6

    val untraced = done.filterNot(_.traced)
    val opMs = untraced.flatMap(_.result).map(_.wallNs / 1e6).toSeq
    val passBest = bestPassS(untraced.toSeq)
    val refBest = refS.filterNot(_._1).map(_._2).min
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_ref", passBest / refBest, "ratio"),
      ("heap_live_mb", heapMb, "MB"))
    val p90Ok = opMs.size >= 100
    val opResults = done.toSeq.flatMap(d => d.result.map(d.op -> _))
    val wMetrics = w.metrics(opResults)
    val extra = Seq(
      ("pass_s", passBest, "s"),
      ("ref_s", refBest, "s"),
      ("fail_ratio", failedOps.size.toDouble / math.max(attempted, 1), "ratio"),
      ("op_p50_ms", Stats.median(opMs), "ms"),
      ("op_p90_ms", Stats.quantile(opMs, 0.9), "ms"),
      ("op.samples", opMs.size.toDouble, "count"),
      ("passes", passS.count(!_._1).toDouble, "count"),
      ("measured_s", measuredS, "s")) ++
      Seq("udf_rows_per_s" -> "1/s", "ddl_p50_ms" -> "ms", "ddl_p90_ms" -> "ms")
        .flatMap { case (k, u) => wMetrics.get(k).map(v => (k, v, u)) }

    println("\nend-to-end metrics (untraced passes)")
    (e2e ++ extra).foreach { case (k, v, u) =>
      val note = if (k == "op_p90_ms" && !p90Ok) s"  (only ${opMs.size} samples; p90 needs 100)" else ""
      println(f"  $k%-22s ${Stats.fmt(v)}%14s $u$note")
    }
    if (failedOps.nonEmpty) println(s"  failed ops: ${failedOps.map(_.op.name).distinct.mkString(", ")}")

    val metrics = trace match {
      case None => e2e
      case Some(t) =>
        val layer = Layer.metrics(t, done.filter(_.traced).toSeq, passS.count(_._1), classes.toSeq,
          opResults, wMetrics, w.rowsPerOp, tmpBytes)
        val tracedPass = bestPassS(done.filter(_.traced).toSeq)
        val untracedPass = bestPassS(untraced.toSeq)
        val all = layer ++ extra ++ Seq(
          ("trace.pass_s_untraced", untracedPass, "s"),
          ("trace.pass_s_traced", tracedPass, "s"),
          ("trace.overhead_s", tracedPass - untracedPass, "s"),
          ("tmp.bytes_max", tmpBytesMax.toDouble, "bytes"))
        Layer.printSelfTimes(t, done.filter(_.traced).toSeq, passS.count(_._1))
        println("\nper-layer metrics (traced passes; 0 where the workload has none)")
        Layer.declared(all).foreach { case (k, v, u) => println(f"  $k%-40s ${Stats.fmt(v)}%16s $u") }
        Dirs.writeSpans(new File(o.out, s"trace-${o.workload}-seed${o.seed}.tsv"),
          Layer.assign(t, done.filter(_.traced).toSeq))
        Layer.declared(all)
    }
    val correct = failedOps.isEmpty
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failedOps.size}, "metrics": {$json}}""")
    if (correct) 0 else 1
  }

  /** Writes the catalogue digests (`--record-digests`) or each entry's
    * output as parquet (`--dump`, for the DuckDB cross-check).
    */
  private def record(o: Opts, w: Workload, ctx: Ctx): Int = w match {
    case c: Catalog =>
      o.dump.foreach(c.dump(ctx, _))
      o.recordDigests.foreach { file =>
        val lines = c.outputs(ctx).sortBy(_._1).map { case (n, (rows, d)) => s"$n\t$rows\t$d" }
        val pw = new java.io.PrintWriter(file, "UTF-8")
        try lines.foreach(pw.println) finally pw.close()
      }
      0
    case _ => System.err.println("--record-digests and --dump apply to catalogue workloads"); 2
  }
}

/** A fixed job on Spark core alone (no SQL, so no adhesivespark code):
  * each of 4 tasks per core sorts 500k pseudo-random longs. Its time follows
  * how fast the host runs at the moment, which moved whole runs by 20-25%
  * on a shared 4-core VM; `pass_ref` divides it out.
  */
object Reference {
  def seconds(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(0 until cpus * 4, cpus * 4).map { i =>
      val r = new java.util.SplittableRandom(i)
      val xs = Array.fill(500000)(r.nextLong())
      java.util.Arrays.sort(xs)
      xs(xs.length / 2)
    }.reduce(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Dirs {
  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def writeSpans(f: File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try {
      pw.println("op\tlayer\tname\tstart_ms\tend_ms")
      spans.sortBy(_.startMs).foreach(s => pw.println(s"${s.op}\t${s.layer}\t${s.name}\t${s.startMs}\t${s.endMs}"))
    } finally pw.close()
  }
}
