package perfbench

import scala.jdk.CollectionConverters._

import perfbench.PerfBench.Done

/** Per-layer metrics from the traced passes of a run. */
object Layer {
  val Functions: Seq[String] = Seq("bigint", "bigint_det", "scala", "class", "string", "decimal",
    "array", "struct", "agg", "table")

  /** Every per-layer metric with its unit, in the order BENCHMARK.json
    * lists them. A traced run prints each of them on every workload; one
    * that does not apply to the workload reads 0.
    */
  val Declared: Seq[(String, String)] =
    Functions.flatMap(f => Seq(s"adhesive.call_ns_per_row.$f" -> "ns", s"native.ns_per_row.$f" -> "ns",
      s"adhesive.overhead_ns_per_row.$f" -> "ns", s"adhesive.overhead_share.$f" -> "ratio")) ++ Seq(
      "udf_rows_per_s" -> "1/s",
      "adhesive.ddl_miss_ms" -> "ms", "adhesive.ddl_hit_ms" -> "ms", "adhesive.ddl_class_ms" -> "ms",
      "adhesive.first_call_ms" -> "ms", "adhesive.warm_call_ms" -> "ms",
      "ddl_p50_ms" -> "ms", "ddl_p90_ms" -> "ms",
      "jvm.loaded_classes_delta" -> "count", "jvm.metaspace_mb" -> "MB",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
      "driver.build_ms" -> "ms", "driver.gap_ms" -> "ms", "exec.jobs" -> "count",
      "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms",
      "exec.gc_ms" -> "ms", "exec.max_task_ms" -> "ms", "exec.skew" -> "ratio",
      "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes", "shuffle.fetch_wait_ms" -> "ms",
      "spill.bytes" -> "bytes", "io.input_bytes" -> "bytes", "io.output_bytes" -> "bytes",
      "io.output_records" -> "count", "streaming.batches" -> "count", "streaming.batch_ms_p50" -> "ms",
      "streaming.state_rows" -> "count", "streaming.state_stores" -> "count",
      "tmp.bytes_left" -> "bytes", "tmp.bytes_max" -> "bytes") ++
      Trace.Layers.map(l => s"self.${l}_ms" -> "ms") ++ Seq(
      "pass_s" -> "s", "ref_s" -> "s",
      "op_p50_ms" -> "ms", "op_p90_ms" -> "ms", "op.samples" -> "count",
      "trace.pass_s_untraced" -> "s", "trace.pass_s_traced" -> "s", "trace.overhead_s" -> "s") ++
      (Catalog.Read ++ Catalog.Write).map(q => s"query.${q}_s" -> "s")

  /** The declared metrics, in declared order, 0 where a run has no value. */
  def declared(all: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = all.map(m => m._1 -> m._2).toMap
    Declared.map { case (n, u) => (n, byName.getOrElse(n, 0.0), u) }
  }

  /** Listener spans carry no op id; the one client runs ops back to back,
    * so a span belongs to the op whose interval holds its start.
    */
  def assign(t: Trace, ops: Seq[Done]): Seq[Span] = {
    val sorted = ops.sortBy(_.startMs).toVector
    t.spans.asScala.toSeq.flatMap { s =>
      if (s.op >= 0) Some(s)
      else sorted.find(d => s.startMs >= d.startMs && s.startMs <= d.endMs).map(d => s.copy(op = d.opId))
    }
  }

  private def within[T](ops: Seq[Done], endMs: T => Long)(xs: Iterable[T]): Seq[T] =
    xs.filter(x => ops.exists(d => endMs(x) >= d.startMs && endMs(x) <= d.endMs)).toSeq

  def selfTimes(t: Trace, ops: Seq[Done]): Map[String, Long] = {
    val spans = assign(t, ops).groupBy(_.op)
    ops.flatMap { d =>
      val opSpan = spans.getOrElse(d.opId, Nil).find(_.layer == "op")
        .getOrElse(Span(d.opId, "op", d.op.name, d.startMs, d.endMs))
      Trace.selfTimes(opSpan, spans.getOrElse(d.opId, Nil).filter(_.layer != "op"))
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def printSelfTimes(t: Trace, ops: Seq[Done], passes: Int): Unit = {
    val self = selfTimes(t, ops)
    val total = math.max(self.values.sum, 1L)
    println(s"\nself time per traced pass (${ops.size} ops over $passes traced passes)")
    Trace.Layers.foreach { l =>
      val v = self.getOrElse(l, 0L)
      println(f"  $l%-10s ${v.toDouble / passes}%10.1f ms  ${100.0 * v / total}%5.1f%%")
    }
  }

  /** Call cost per row from task CPU time, so the driver's fixed cost per
    * query (planning, scheduling) does not land in it: for each function,
    * the median over traced ops of the ops' summed task CPU over its rows.
    */
  private def perRow(ops: Seq[Done], tasks: Seq[TaskRec], rows: Long): Seq[(String, Double)] =
    if (rows <= 0) Nil
    else {
      def ns(name: String) = Stats.median(ops.filter(_.op.name == name).map { d =>
        tasks.filter(x => x.endMs >= d.startMs && x.endMs <= d.endMs).map(_.cpuNs).sum.toDouble / rows
      })
      Functions.flatMap { f =>
        val call = ns(s"adhesive.$f")
        val native = ns(s"native.$f")
        Seq(s"adhesive.call_ns_per_row.$f" -> call, s"native.ns_per_row.$f" -> native,
          s"adhesive.overhead_ns_per_row.$f" -> (call - native),
          s"adhesive.overhead_share.$f" -> (if (call > 0) (call - native) / call else 0.0))
      }
    }

  def metrics(t: Trace, ops: Seq[Done], passes: Int, classDeltas: Seq[Long],
      results: Seq[(Op, OpResult)], workload: Map[String, Double], rows: Long, tmpBytes: Long)
      : Seq[(String, Double, String)] = {
    val n = math.max(passes, 1).toDouble
    val spans = assign(t, ops)
    def sumMs(layer: String, name: String => Boolean = _ => true) =
      spans.filter(s => s.layer == layer && name(s.name)).map(s => s.endMs - s.startMs).sum / n
    val tasks = within[TaskRec](ops, _.endMs)(t.tasks.asScala)
    val batches = within[BatchRec](ops, _.endMs)(t.batches.asScala)
    val gap = ops.map { d =>
      val jobs = spans.filter(s => s.op == d.opId && s.layer == "job")
        .map(s => (math.max(s.startMs, d.startMs), math.min(s.endMs, d.endMs)))
      (d.endMs - d.startMs) - Trace.unionMs(jobs)
    }.sum / n
    val skew = tasks.groupBy(_.stageId).values.maxByOption(_.map(_.durMs).sum).map { ts =>
      val med = Stats.median(ts.map(_.durMs.toDouble))
      if (med > 0) ts.map(_.durMs).max / med else 1.0
    }.getOrElse(0.0)
    val perOpBatches = batches.groupBy(b => ops.find(d => b.endMs >= d.startMs && b.endMs <= d.endMs).map(_.opId))
    def perOpMax(f: BatchRec => Long) = perOpBatches.values.map(bs => bs.map(f).max).sum / n
    val self = selfTimes(t, ops)
    val queryS = results.groupBy(_._1.name).map { case (q, rs) =>
      s"query.${q}_s" -> Stats.median(rs.map(_._2.wallNs / 1e9))
    }
    val measured = Seq(
      "jvm.loaded_classes_delta" -> Stats.median(classDeltas.map(_.toDouble)),
      "jvm.metaspace_mb" -> Trace.metaspaceMb * 1048576 / 1e6,
      "catalyst.analysis_ms" -> sumMs("catalyst", _ == "analysis"),
      "catalyst.optimization_ms" -> sumMs("catalyst", _ == "optimization"),
      "catalyst.planning_ms" -> sumMs("catalyst", _ == "planning"),
      "driver.build_ms" -> sumMs("build"),
      "driver.gap_ms" -> gap,
      "exec.jobs" -> spans.count(_.layer == "job") / n,
      "exec.stages" -> spans.count(_.layer == "stage") / n,
      "exec.tasks" -> tasks.size / n,
      "exec.task_ms" -> tasks.map(_.durMs).sum / n,
      "exec.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "exec.max_task_ms" -> tasks.map(_.durMs.toDouble).maxOption.getOrElse(0.0),
      "exec.skew" -> skew,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "shuffle.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum / n,
      "spill.bytes" -> tasks.map(_.spill).sum / n,
      "io.input_bytes" -> tasks.map(_.inBytes).sum / n,
      "io.output_bytes" -> tasks.map(_.outBytes).sum / n,
      "io.output_records" -> tasks.map(_.outRecords).sum / n,
      "streaming.batches" -> batches.size / n,
      "streaming.batch_ms_p50" -> Stats.median(batches.map(_.durMs.toDouble)),
      "streaming.state_rows" -> perOpMax(_.stateRows),
      "streaming.state_stores" -> perOpMax(_.stateStores),
      "tmp.bytes_left" -> tmpBytes.toDouble) ++
      Trace.Layers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0L) / n)
    val units = Declared.toMap
    (workload ++ queryS ++ measured ++ perRow(ops, tasks, rows)).toSeq.map { case (k, v) => (k, v, units.getOrElse(k, "")) }
  }
}
