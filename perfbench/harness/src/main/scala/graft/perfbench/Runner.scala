package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One timed operation: `build` calls into the program's public builder
  * or layout function and returns the DataFrames to execute (named by a
  * suffix); execution writes each of them in full to run-local parquet.
  * `filesTotal` overrides the scan's own file count where the scan only
  * sees a pruned file list (the MinHash probe). `before` and `after` run
  * untimed around it, to read state the checks need. */
final case class Op(name: String, build: () => Seq[(String, DataFrame)],
    filesTotal: Option[() => Long] = None,
    before: () => Unit = () => (), after: () => Unit = () => ())

/** What one execution of an operation cost. `layers` is empty unless the
  * run is traced. */
final case class Exec(op: String, round: Int, buildS: Double,
    execS: Double, cpuS: Double, err: Option[String], outputs: Seq[String],
    layers: Seq[(String, Double)]) {
  def wallS: Double = buildS + execS
  def fields: Map[String, Any] = Map("op" -> op, "round" -> round,
    "build_s" -> buildS, "exec_s" -> execS, "wall_s" -> wallS, "cpu_s" -> cpuS,
    "err" -> err, "outputs" -> outputs, "layers" -> layers.toMap)
}

/** Times operations from outside the program: the builder call, then the
  * writes, on the driver thread, with the tracer's bus drains between the
  * two steps left out of both. */
final class Runner(spark: SparkSession, outRoot: String, tracer: Option[Tracer]) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(t: Long = System.nanoTime()): Double = epochBase + (t - nanoBase) / 1e6

  val execs = mutable.ArrayBuffer.empty[Exec]

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (all threads: tasks, JIT, GC), in ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  private def describe(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300)

  def run(op: Op, round: Int, dir: String): Exec = {
    op.before()
    val opSpan = tracer.map(_.newSpanId())
    val buildSpan = tracer.map(_.newSpanId())
    tracer.foreach(_.open(buildSpan.get))
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    var err: Option[String] = None
    val outs = try op.build() catch { case t: Throwable => err = Some(describe(t)); Nil }
    val t1 = System.nanoTime()
    val c1 = cpuNs()
    val wb = tracer.map(_.close())
    val execSpan = tracer.map(_.newSpanId())
    tracer.foreach(_.open(execSpan.get))
    val c2 = cpuNs()
    val t2 = System.nanoTime()
    val paths = outs.map { case (suffix, _) =>
      s"$outRoot/$dir/${op.name}" + (if (suffix.isEmpty) "" else s"__$suffix")
    }
    if (err.isEmpty) {
      try outs.zip(paths).foreach { case ((_, df), p) => df.write.mode("overwrite").parquet(p) }
      catch { case t: Throwable => err = Some(describe(t)) }
    }
    val t3 = System.nanoTime()
    val c3 = cpuNs()
    val we = tracer.map(_.close())
    val buildS = (t1 - t0) / 1e9
    val execS = (t3 - t2) / 1e9
    // the op span covers build + execute with the untimed drain between
    // them cut out, so its length is the op's reported wall time
    val layers = (tracer, wb, we) match {
      case (Some(tr), Some(b), Some(e)) =>
        val execStart = nowMs(t1)
        tr.span(opSpan.get, None, "op", s"${op.name}#$round", nowMs(t0), execStart + execS * 1e3)
        tr.span(buildSpan.get, opSpan, "build", op.name, nowMs(t0), nowMs(t1))
        tr.span(execSpan.get, opSpan, "execute", op.name, nowMs(t2), nowMs(t3))
        layerMetrics(op, b, e, buildS, execS)
      case _ => Nil
    }
    val ex = Exec(op.name, round, buildS, execS, (c1 - c0 + c3 - c2) / 1e9, err,
      paths, layers)
    execs += ex
    if (err.isEmpty) op.after()
    ex
  }

  /** Per-layer numbers of one execution. The execute step splits into
    * Catalyst phases, job wall time and the remaining driver time; the
    * residual is what the parts over-count when they overlap. */
  private def layerMetrics(op: Op, b: Window, e: Window, buildS: Double,
      execS: Double): Seq[(String, Double)] = {
    val both = Seq(b, e)
    def sum(f: Window => Double) = both.map(f).sum
    val jobWallS = e.jobWallMs / 1e3
    val catalystExecS = e.catalystMs / 1e3
    val otherS = math.max(0.0, execS - catalystExecS - jobWallS)
    val wall = buildS + execS
    val filesTotal = op.filesTotal.map(f => f().toDouble)
      .getOrElse(sum(_.filesTotal.toDouble))
    Seq(
      "operators.build_s" -> buildS,
      "operators.build_jobs" -> b.jobs.toDouble,
      "catalyst.analysis_s" -> sum(_.analysisMs / 1e3),
      "catalyst.optimizer_s" -> sum(_.optimizerMs / 1e3),
      "catalyst.planning_s" -> sum(_.planningMs / 1e3),
      "catalyst.executions" -> sum(_.executions.toDouble),
      "codegen.compile_s" -> sum(_.compileNs / 1e9),
      "codegen.classes" -> sum(_.classes.toDouble),
      "exec.jobs" -> sum(_.jobs.toDouble),
      "exec.stages" -> sum(_.stages.toDouble),
      "exec.tasks" -> sum(_.tasks.toDouble),
      "exec.job_wall_s" -> jobWallS,
      "exec.driver_s" -> (wall - jobWallS - b.jobWallMs / 1e3),
      "exec.task_run_s" -> sum(_.taskRunMs / 1e3),
      "exec.task_cpu_s" -> sum(_.taskCpuNs / 1e9),
      "exec.gc_s" -> sum(_.gcMs / 1e3),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "exec.spill_bytes" -> sum(_.spill.toDouble),
      "scan.input_bytes" -> sum(_.inputBytes.toDouble),
      "scan.files_read" -> sum(_.filesRead.toDouble),
      "scan.files_total" -> filesTotal,
      "split.residual_s" -> (wall - (buildS + catalystExecS + jobWallS + otherS)))
  }
}
