package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** The closed loop: build, the cold pass, then steady passes until
  * `seconds` have passed since the steady state began, and at least two
  * (more samples per op, and, when tracing, a traced and an untraced run
  * of every op). A workload whose cold part is its first op runs one
  * pass, all of it traced when tracing (its untraced twin is a separate
  * run). Otherwise, when tracing, the cold pass is traced and steady ops
  * alternate: op i of pass p is traced iff p + i is odd, so over two
  * steady passes each op runs once traced and once not, and the trace
  * overhead is a same-run, paired difference. Every op is drained off the
  * listener bus before the next starts, and every scan it ran is audited
  * against the run's own directories. */
final class Runner(spark: SparkSession, rec: Recorder, w: Workload, seconds: Double,
                   trace: Boolean, ownRoots: Seq[String], cores: Int) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Map[String, Any]]

  def run(out: Harness.Out): Unit = {
    rec.setDetailed(trace)
    w.build(out)
    Bus.drain(sc)
    out("build_failures") = auditScans("build")
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    var steadyStart = 0L
    def steadyElapsed = (System.nanoTime() - steadyStart) / 1e9
    val minPasses = if (w.coldIsFirstOp) 1 else 3
    def traced(pass: Int, i: Int) = trace &&
      (w.coldIsFirstOp || pass == 0 || (pass + i) % 2 == 1)
    while (pass < minPasses || (!w.coldIsFirstOp && steadyElapsed < seconds)) {
      if (pass == 1) steadyStart = System.nanoTime()
      w.beforePass(pass)
      val passRec: Harness.Out = mutable.Map("pass" -> pass)
      val t0 = System.nanoTime()
      w.ops(pass).zipWithIndex.foreach { case (op, i) =>
        ops += runOp(op, pass, i, traced(pass, i))
      }
      rec.setDetailed(false)
      w.finishPass(pass, passRec)
      passRec("wall_s") = (System.nanoTime() - t0) / 1e9
      Bus.drain(sc)
      auditScans(s"pass $pass") match {
        case Nil => passRec("failures") = w.checkPass(pass, passRec)
        case bad => passRec("failures") = bad
      }
      passes += passRec.toMap
      pass += 1
    }
    rec.setDetailed(false)
    out("ops") = ops.toSeq
    out("passes") = passes.toSeq
    out("spans") = spans.toSeq
    out("cold_is_first_op") = w.coldIsFirstOp
  }

  /** Scan roots outside the run's inputs and temp root, as failures. */
  private def auditScans(where: String): Seq[String] = {
    val roots = rec.synchronized(rec.queries.flatMap(_.scanRoots).distinct.toSeq)
    rec.synchronized(rec.queries.clear())
    roots.filterNot(r => ownRoots.exists(o => r.stripPrefix("file:").startsWith(o)))
      .map(r => s"$where read $r, which this run did not write")
  }

  private def runOp(op: Op, pass: Int, idx: Int, traced: Boolean): Map[String, Any] = {
    rec.setDetailed(traced)
    val persisted = if (traced) sc.getPersistentRDDs.size else 0
    val storageMb = if (traced) sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0 else 0.0
    val before = auditScans(s"before ${op.name}")
    rec.clear()
    val ctx = new OpCtx
    val start = Clock.nowMs
    val err = try { op.body(ctx); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val end = Clock.nowMs
    Bus.drain(sc)
    val traceRec = if (!traced) Map.empty[String, Any]
      else counters(op, s"$pass.$idx", start, end, ctx) ++
        Map("Perf.persisted_rdds" -> persisted, "Perf.storage_mem_mb" -> storageMb)
    val errors = err.toSeq ++ before ++ auditScans(op.name)
    Map[String, Any]("pass" -> pass, "idx" -> idx, "name" -> op.name,
      "traced" -> traced, "wall_s" -> (end - start) / 1e3,
      "error" -> errors.headOption.orNull) ++ traceRec
  }

  /** Per-op counters and spans from what the listeners saw. */
  private def counters(op: Op, id: String, start: Double, end: Double,
                       ctx: OpCtx): Map[String, Any] = rec.synchronized {
    val (cs, ce) = ctx.closure.getOrElse((start, start))
    val (es, ee) = ctx.exec.getOrElse((end, end))
    def span(sid: String, parent: String, layer: String, name: String,
             s: Double, e: Double): Unit =
      spans += Map("id" -> sid, "parent" -> parent, "op" -> id, "layer" -> layer,
        "name" -> name, "start_ms" -> s, "end_ms" -> e)
    span(id, null, "bench", op.name, start, end)
    if (ctx.closure.isDefined) span(s"$id/closure", id, "SparkEntry", "closure", cs, ce)
    if (ctx.exec.isDefined) span(s"$id/exec", id, "operators", "exec", es, ee)
    def phaseOf(t: Double) = if (ctx.closure.isDefined && t < ce) s"$id/closure" else s"$id/exec"
    // planning of every query execution the op ran (optimizer + planner)
    val plans = rec.queries.toSeq.zipWithIndex.flatMap { case (q, qi) =>
      q.phases.filter(p => p._1 == "optimization" || p._1 == "planning").map {
        case (ph, s, e) =>
          span(s"$id/plan$qi.$ph", phaseOf(s.toDouble), "plans", ph, s.toDouble, e.toDouble)
          (s.toDouble, (e - s) / 1e3)
      }
    }
    val execPlan = plans.filter(_._1 >= es).map(_._2).sum
    val stageToJob = rec.jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    rec.jobs.foreach { j =>
      span(s"$id/job${j.id}", phaseOf(j.submitMs.toDouble), "operators", s"job ${j.id}",
        j.submitMs.toDouble, math.max(j.endMs, j.submitMs).toDouble)
    }
    rec.stages.foreach { s =>
      val parent = stageToJob.get(s.id).map(j => s"$id/job$j").getOrElse(s"$id/exec")
      span(s"$id/stage${s.id}.${s.attempt}", parent, "operators", s"stage ${s.id}",
        s.submitMs.toDouble, s.endMs.toDouble)
    }
    val tasks = rec.tasks.toSeq
    val execTasks = tasks.filter(_.launchMs >= es)
    val execWall = (ee - es) / 1e3
    val execS = math.max(0.0, execWall - execPlan)
    val busy = Intervals.covered(execTasks.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)), es, ee) / 1e3
    def sum(f: TaskRec => Long) = tasks.map(f).sum.toDouble
    val mb = 1048576.0
    val progress = rec.progress.toSeq
    def prog(k: String) = progress.map(_.getOrElse(k, 0L)).sum / 1e3
    Map(
      "SparkEntry.closure_s" -> (ce - cs) / 1e3,
      "SparkEntry.closure_jobs" -> rec.jobs.count(j => ctx.closure.isDefined && j.submitMs < ce),
      "plans.plan_s" -> plans.map(_._2).sum,
      "operators.exec_s" -> execS,
      "operators.jobs" -> rec.jobs.size,
      "operators.stages" -> rec.stages.size,
      "operators.tasks" -> tasks.size,
      "operators.driver_only_s" -> math.max(0.0, execWall - busy),
      "operators.task_s" -> sum(_.runMs) / 1e3,
      "operators.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec_task_s" -> execTasks.map(_.runMs).sum / 1e3,
      "exec_wall_core_s" -> execS * cores,
      "useful_tasks" -> tasks.count(t => t.inRecords + t.shuffleReadRecords >= 1),
      "operators.gc_s" -> sum(_.gcMs) / 1e3,
      "operators.spill_mb" -> sum(_.spillBytes) / mb,
      "operators.shuffle_read_mb" -> sum(_.shuffleReadBytes) / mb,
      "operators.shuffle_write_mb" -> sum(_.shuffleWriteBytes) / mb,
      "operators.peak_exec_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakExecMem).max / mb),
      "sources.input_mb" -> sum(_.inBytes) / mb,
      "scan_records" -> sum(_.inRecords),
      "input_records" -> op.inputRecords,
      "sources.output_mb" -> sum(_.outBytes) / mb,
      "sources.files_written" -> rec.queries.map(_.filesWritten).sum,
      "streaming.add_batch_s" -> prog("addBatch"),
      "streaming.query_planning_s" -> prog("queryPlanning"),
      "streaming.wal_commit_s" -> prog("walCommit"),
      "streaming.trigger_s" -> prog("triggerExecution"))
  }
}

object Intervals {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }
}
