package perfbench

import java.io.{DataOutputStream, FileOutputStream, BufferedOutputStream}
import java.nio.file.{Files, Paths}

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf

import graft.SparkEntry
import graft.rbm.{DBN, DeepLearningPipeline}

/** A workload: one pass of operations, and the outputs the checks
  * read. A pass always attempts the same `ops` operations.
  */
trait Workload {
  def ops: Int
  /** What the checks need to know about the workload's configuration. */
  def describe: Map[String, Any]
  /** Seconds of `--seconds` each timed pass stands for; sets the number
    * of timed passes.
    */
  def passBudgetSeconds: Double
  def pass(p: Int): Unit
  /** One untimed pass of set-up; the last one may also write what the
    * checks read.
    */
  def warmUp(last: Boolean): Unit = pass(-1)
  /** Wall seconds of the last pass's operations that did not fail,
    * given the jobs the pass ran (read after the listener bus drained).
    */
  def opSeconds(jobs: Seq[JobRec]): Seq[Double]
  /** Indices of the last pass's operations that failed, given its jobs. */
  def failedOps(jobs: Seq[JobRec]): Seq[Int]
  /** Writes what the checks need from pass `p`; outside its timing. */
  def afterPass(p: Int): Unit = ()
  /** Traced-run metrics of the last pass beyond the Spark engine's. */
  def traced(jobs: Seq[JobRec]): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, work: String,
            tr: Tracer): Workload = name match {
    case "dbn"           => new Dbn(spark, inputs, work, tr)
    case "registry_full" => new RegistryFull(spark, inputs, work, tr)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** One call into the program that trains a DBN stack layer by layer,
  * split into operations (one per layer) by its jobs: each CD-1 epoch
  * runs exactly one job from RBM.scala, so the k-th group of `epochs`
  * cd1 jobs is layer k. Operation k runs from the end of layer k-1's
  * last job (or the call start) to the end of the last job before layer
  * k+1's first epoch (the last operation to the call end), so a layer's
  * propagation is charged to the job that runs it. When the call's cd1
  * jobs do not split that way (the program's job structure changed),
  * its operations fail rather than being redefined.
  */
abstract class DbnCall(val name: String, val layers: Seq[Int], val epochs: Int) {
  def ops: Int = layers.length - 1
  var startMs, endMs = 0L
  var weights: Seq[DenseMatrix[Double]] = Nil
  var threw = false
  protected def train(): Seq[DenseMatrix[Double]]

  def run(tr: Tracer): Unit = {
    threw = false
    weights = Nil
    startMs = System.currentTimeMillis()
    try weights = tr(name)(train())
    catch { case e: Exception =>
      threw = true
      System.err.println(s"[perfbench] $name failed")
      e.printStackTrace()
    }
    endMs = System.currentTimeMillis()
  }

  def isCd1(j: JobRec): Boolean = j.callSite.contains("RBM.scala")

  /** Per-layer cd1 jobs, or None when the job count does not match. */
  def layerJobs(jobs: Seq[JobRec]): Option[Seq[Seq[JobRec]]] = {
    val cd1 = jobs.filter(isCd1).sortBy(_.id)
    if (cd1.length != ops * epochs) None else Some(cd1.grouped(epochs).toSeq)
  }

  /** Whether the call's operations failed: it threw, or its jobs do not
    * split into layers.
    */
  def failed(jobs: Seq[JobRec]): Boolean = threw || {
    val unsplit = layerJobs(jobs).isEmpty
    if (unsplit) System.err.println(s"[perfbench] $name ran " +
      s"${jobs.count(isCd1)} jobs from RBM.scala, not ${ops * epochs} (one per epoch); " +
      "its layers cannot be told apart")
    unsplit
  }

  def opSeconds(jobs: Seq[JobRec]): Seq[Double] =
    if (threw) Nil
    else layerJobs(jobs) match {
      case None => Nil
      case Some(ls) =>
        val ends = ls.drop(1).map(next => jobs.filter(_.id < next.head.id).map(_.endMs).max) :+
          endMs
        (startMs +: ends.init).zip(ends).map { case (a, b) => (b - a) / 1000.0 }
    }

  /** (epoch wall, job wall) per epoch per layer; an epoch runs from the
    * end of the previous job in the call (or the call start) to the end
    * of its own job.
    */
  def epochWalls(jobs: Seq[JobRec]): Seq[Seq[(Double, Double)]] =
    layerJobs(jobs).getOrElse(Nil).map(_.map { j =>
      val prev = jobs.filter(_.id < j.id).map(_.endMs)
      val from = if (prev.isEmpty) startMs else prev.max
      ((j.endMs - from) / 1000.0, (j.endMs - j.startMs) / 1000.0)
    })
}

/** Both DBN entry points in every pass, over one seeded corpus:
  *  - `DeepLearningPipeline.run`, the paper's end-to-end job: the keyed
  *    layer-0 text corpus in, a wide first layer and a small second one,
  *    each propagated layer written as reference-format text and the
  *    weights dumped as parquet;
  *  - `DBN.pretrain` over the parquet copy of the corpus through many
  *    narrow layers with two epochs each, where layer chaining, per-job
  *    overhead and the recomputation of earlier layers dominate.
  */
final class Dbn(spark: SparkSession, inputs: String, work: String, tr: Tracer)
    extends Workload {
  val modelSeed = 42L
  private val text = Paths.get(inputs, "pixels_text").toAbsolutePath.toString
  private val parquet = Paths.get(inputs, "pixels_parquet").toAbsolutePath.toString
  val out: String = Paths.get(work, "pipeline_out").toAbsolutePath.toString
  // the traced run counts the rows the parquet source produces (cached
  // reads bypass the counting filter, recomputation from the source does
  // not) and the local-file bytes read during the pipeline call, which
  // reads no local file but its text corpus
  private val textBytes =
    new java.io.File(text).listFiles().filter(_.getName.startsWith("part-")).map(_.length).sum
  private var textReads = 0.0
  private val sourceRows = spark.sparkContext.longAccumulator("perfbench.source_rows")
  private val countRow = {
    val acc = sourceRows
    udf { () => acc.add(1L); true }.asNondeterministic()
  }
  private lazy val rows = spark.read.parquet(parquet).count()

  val pipeline: DbnCall = new DbnCall("rbm.DeepLearningPipeline.run", Seq(784, 128, 32), 3) {
    def train() = {
      val before = Dbn.localBytesRead
      val ws = DeepLearningPipeline.run(spark, text, out, epochs, layers, modelSeed)
      textReads = (Dbn.localBytesRead - before).toDouble / textBytes
      ws
    }
  }
  val stack: DbnCall = new DbnCall("rbm.DBN.pretrain", Seq(784, 64, 48, 32, 24, 16, 12, 8), 2) {
    def train() = {
      val raw = spark.read.parquet(parquet)
      DBN.pretrain(spark, if (tr.enabled) raw.filter(countRow()) else raw,
        layers, epochs, modelSeed)
    }
  }
  val calls: Seq[DbnCall] = Seq(pipeline, stack)
  def ops: Int = calls.map(_.ops).sum
  def passBudgetSeconds: Double = 5.0
  def describe: Map[String, Any] = Map("model_seed" -> modelSeed, "calls" ->
    calls.map(c => Map("name" -> c.name, "layers" -> c.layers, "epochs" -> c.epochs)))

  def pass(p: Int): Unit = {
    sourceRows.reset()
    calls.foreach(_.run(tr))
  }

  /** The jobs each call started (a job starting in the millisecond one
    * call ends and the next begins belongs to the later call).
    */
  def jobsOf(c: DbnCall, jobs: Seq[JobRec]): Seq[JobRec] = {
    val i = calls.indexOf(c)
    val until = if (i + 1 < calls.length) calls(i + 1).startMs else Long.MaxValue
    jobs.filter(j => j.startMs >= c.startMs && j.startMs < until && j.startMs <= c.endMs)
      .sortBy(_.id)
  }

  private def offsets: Seq[Int] = calls.scanLeft(0)(_ + _.ops)

  def failedOps(jobs: Seq[JobRec]): Seq[Int] = calls.zip(offsets).flatMap { case (c, o) =>
    if (c.failed(jobsOf(c, jobs))) o until o + c.ops else Nil
  }

  def opSeconds(jobs: Seq[JobRec]): Seq[Double] =
    calls.flatMap(c => c.opSeconds(jobsOf(c, jobs)))

  override def afterPass(p: Int): Unit = {
    val dir = Paths.get(work, "weights")
    Files.createDirectories(dir)
    for ((c, ci) <- calls.zipWithIndex; (w, k) <- c.weights.zipWithIndex) {
      val out = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(dir.resolve(s"pass${p}_call${ci}_layer$k.f64be").toFile)))
      try for (i <- 0 until w.rows; j <- 0 until w.cols) out.writeDouble(w(i, j))
      finally out.close()
    }
  }

  /** The rbm layer summed over both calls, and the sources layer. */
  def traced(jobs: Seq[JobRec]): Map[String, Double] = {
    val perCall = calls.map(c => (c, jobsOf(c, jobs)))
    val cd1 = perCall.flatMap { case (c, js) => js.filter(c.isCd1) }
    val epochs = perCall.flatMap { case (c, js) => c.epochWalls(js) }
    val warm = epochs.map(l => Layers.median(l.drop(1).map(_._1)))
    val pj = jobsOf(pipeline, jobs)
    val write = pj.filter(_.callSite.contains("PixelText.scala"))
    val lastOther = pj.filterNot(_.callSite.contains("DeepLearningPipeline.scala"))
      .lastOption.map(_.endMs).getOrElse(pipeline.startMs)
    Map(
      "rbm.cd1_job_s" -> cd1.map(j => j.endMs - j.startMs).sum / 1000.0,
      "rbm.cd1_cpu_s" -> cd1.map(_.cpuNs).sum / 1e9,
      "rbm.cd1_warm_epoch_p50_s" -> warm.sum,
      "rbm.layer_input_s" -> epochs.zip(warm).map { case (l, m) => l.head._1 - m }.sum,
      "rbm.cd1_outside_jobs_s" -> epochs.flatten.map { case (e, j) => e - j }.sum,
      "rbm.source_reads" -> sourceRows.value.toDouble / rows,
      "sources.pixeltext_reads" -> textReads,
      "sources.pixeltext_write_job_s" -> write.map(j => j.endMs - j.startMs).sum / 1000.0,
      "sources.pixeltext_write_mb" -> write.map(_.outBytes).sum / 1e6,
      "sources.weights_write_s" -> (pipeline.endMs - lastOther) / 1000.0)
  }
}

object Dbn {
  /** Bytes read so far through Hadoop's local file system, all threads. */
  def localBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }
}

/** A fixed list of registry queries covering every module, each timed
  * to its full result through the `noop` sink.
  */
final class RegistryFull(spark: SparkSession, inputs: String, work: String, tr: Tracer)
    extends Workload {
  private val tables = Paths.get(inputs, "tables").toAbsolutePath.toString
  val queries: Seq[(String, String)] = RegistryFull.queries
  def ops: Int = queries.length
  def passBudgetSeconds: Double = 4.0
  def describe: Map[String, Any] = Map("queries" -> queries.map(_._1))
  private var times = Seq.empty[Double]
  private var failed = Seq.empty[Int]
  def failedOps(jobs: Seq[JobRec]): Seq[Int] = failed
  private val out = Paths.get(work, "registry_out")

  def pass(p: Int): Unit = run(_ => _.write.format("noop").mode("overwrite").save())

  /** The last warm-up pass writes each query's full result as parquet
    * for the checks: the same queries, warm, with the program's staged
    * artifacts in place as in the timed passes.
    */
  override def warmUp(last: Boolean): Unit =
    if (!last) pass(-1)
    else {
      Json.write(out.resolve("oracle_sql.json"),
        queries.flatMap { case (n, _) => SparkEntry.oracleSql.get(n).map(n -> _) }.toMap)
      run(name => _.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString))
    }

  private def run(sink: String => DataFrame => Unit): Unit = {
    failed = Nil
    times = queries.zipWithIndex.flatMap { case ((name, _), i) =>
      val t0 = System.nanoTime()
      try {
        tr(s"query.$name")(sink(name)(SparkEntry.queries(name)(spark, tables)))
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Exception =>
        failed :+= i
        System.err.println(s"[perfbench] $name failed")
        e.printStackTrace()
        None
      }
    }
  }

  def opSeconds(jobs: Seq[JobRec]): Seq[Double] = times

  /** Each query's time and the per-module sums; 0 when a query threw. */
  def traced(jobs: Seq[JobRec]): Map[String, Double] = {
    val t = if (failed.isEmpty) queries.map(_._1).zip(times).toMap else Map.empty[String, Double]
    val perQuery = queries.map { case (n, _) => s"query.${n}_s" -> t.getOrElse(n, 0.0) }
    val perModule = RegistryFull.modules.map { m =>
      s"$m.query_s" -> queries.filter(_._2 == m).map(q => t.getOrElse(q._1, 0.0)).sum
    }
    (perQuery ++ perModule).toMap
  }
}

object RegistryFull {
  /** (query, module). */
  val queries: Seq[(String, String)] = Seq(
    "q67_range_frame" -> "operators",
    "q96_hof_predicates" -> "functions",
    "q113_dedup_components" -> "llm",
    "q101_stream_session_replay" -> "streaming",
    "q16_forward_prop" -> "rbm",
  )
  val modules: Seq[String] = queries.map(_._2).distinct
}
