package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (session, input load and
  * untimed warm-up passes, the last of which may write what the checks
  * read), then the timed passes. Writes `result.json` (and `spans.json`
  * when traced) into `--work`.
  *
  * Pass counts do not depend on the clock: `WarmUpPasses` of warm-up,
  * then `--seconds` divided by the workload's pass budget, rounded up,
  * of timed passes. The JIT keeps compiling for minutes, so every run
  * measures the same passes of that curve, and a faster program is
  * compared over the same work.
  *
  * Args: --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *       --cores N --t0-ms EPOCH_MS (when the launcher started the JVM)
  */
object Main {
  val MinPasses = 3
  val WarmUpPasses = 2

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"
    val tr = new Tracer(traced)
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new JobLog(traced)
    spark.sparkContext.addSparkListener(log)
    val plans = new PlanLog
    if (traced) spark.listenerManager.register(plans)
    try run(opt, work, cores, spark, tr, log, plans)
    finally spark.stop()
  }

  private def run(opt: Map[String, String], work: Path, cores: Int, spark: SparkSession,
                  tr: Tracer, log: JobLog, plans: PlanLog): Unit = {
    val w = Workload(opt("workload"), spark, opt("inputs"), work.toString, tr)
    val t0 = opt("t0-ms").toLong
    System.err.println(s"[perfbench] session up ${(System.currentTimeMillis() - t0) / 1000.0} s")
    for (i <- 0 until WarmUpPasses) {
      val n0 = System.nanoTime()
      w.warmUp(last = i == WarmUpPasses - 1)
      System.err.println(f"[perfbench] warm-up pass $i: ${(System.nanoTime() - n0) / 1e9}%.2f s")
    }
    val setupS = (System.currentTimeMillis() - t0) / 1000.0

    val timedPasses =
      MinPasses max math.ceil(opt("seconds").toDouble / w.passBudgetSeconds).toInt
    val passes = Seq.newBuilder[Map[String, Any]]
    for (p <- 0 until timedPasses) {
      tr.pass = p
      val cpu0 = osBean.getProcessCpuTime
      val startMs = System.currentTimeMillis()
      val n0 = System.nanoTime()
      tr("pass")(w.pass(p))
      val wall = (System.nanoTime() - n0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val endMs = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      val jobs = log.between(startMs, endMs)
      val layers =
        if (tr.enabled) Layers.pass(cores, wall, startMs, endMs, jobs, plans) ++ w.traced(jobs)
        else Map.empty
      passes += Map("total_s" -> wall, "cpu_s" -> cpu, "failed_ops" -> w.failedOps(jobs),
        "op_s" -> w.opSeconds(jobs), "layers" -> layers)
      w.afterPass(p)
    }
    // unpersist and Spark's ContextCleaner free blocks and broadcasts on
    // their own threads after a GC finds them unreachable: give them
    // time between full GCs and keep the lowest reading
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(500)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    Json.write(work.resolve("result.json"), w.describe ++ Map(
      "setup_s" -> setupS, "heap_retained_mb" -> heapMb, "ops" -> w.ops,
      "cores" -> cores, "passes" -> passes.result()))
    if (tr.enabled) {
      PerfbenchBus.drain(spark.sparkContext)
      Json.write(work.resolve("spans.json"), Layers.spans(tr, log))
    }
  }
}

/** Per-layer metrics of the Spark engine in one traced pass, and the
  * span dump.
  */
object Layers {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def pass(cores: Int, wall: Double, startMs: Long, endMs: Long, jobs: Seq[JobRec],
           plans: PlanLog): Map[String, Double] = {
    val runS = jobs.map(_.runMs).sum / 1000.0
    Map(
      "spark.jobs" -> jobs.length.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.idle_core_s" -> (cores * wall - runS),
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> jobs.map(_.spill).sum / 1e6,
      "spark.result_mb" -> jobs.map(_.result).sum / 1e6,
      "spark.planning_s" -> plans.between(startMs, endMs).map(_._2).sum / 1000.0)
  }

  /** Every span with its self time: its duration minus the union of the
    * intervals its children cover. Jobs become spans under the
    * innermost benchmark span open when they started, carrying their
    * task counters.
    */
  def spans(tr: Tracer, log: JobLog): Seq[Map[String, Any]] = {
    val own = tr.spans.toSeq
    val jobs = log.jobs.toSeq.filter(_.endMs >= 0)
    val jobSpans = jobs.zipWithIndex.map { case (j, i) =>
      val parent = tr.at(j.startMs)
      Span(own.length + i, s"job ${j.id}: ${j.callSite}", parent,
        if (parent >= 0) own(parent).pass else -1, j.startMs, j.endMs)
    }
    val counters = jobSpans.zip(jobs).map { case (s, j) =>
      s.id -> Map("stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
        "task_cpu_ms" -> j.cpuNs / 1000000, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
        "spill_bytes" -> j.spill, "result_bytes" -> j.result, "output_bytes" -> j.outBytes)
    }.toMap
    val all = own ++ jobSpans
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (c.startMs max s.startMs, c.endMs min s.endMs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = a max reach
        if (b > from) { covered += b - from; reach = b }
      }
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> ((s.endMs - s.startMs) - covered)) ++ counters.getOrElse(s.id, Map.empty)
    }
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + render(x) }
      .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case null => "null"
    case other => quote(other.toString)
  }

  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, render(v))
  }
}
