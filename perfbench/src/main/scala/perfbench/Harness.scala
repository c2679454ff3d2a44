package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Timing side of the benchmark. Drives the registry only through its
  * public entry points (`SparkEntry.queries`, `SparkEntry.oracleSql`) and
  * observes it only from outside: wall clocks around `fn(session, dir)`
  * and around the action, plus Spark's public listeners.
  *
  * One run: start the SparkContext, run a first (cold) pass that writes
  * every query's result for the oracle check, an untimed warm-up pass
  * that drives the queries as the timed passes do, then `--passes`
  * timed passes. Each pass runs the queries in the given order in a
  * fresh `newSession()`, so per-session state (Memo entries) is paid
  * inside the pass. With `--trace 1` passes alternate between traced
  * (listeners attached) and untraced, so the tracing overhead is
  * measured in the same process.
  *
  * Everything is written to `<work>/result.json` (and spans to
  * `<work>/spans.jsonl` when traced); `run.py` turns it into metrics.
  */
object Harness {
  final case class Conf(fixture: String, work: String, queries: Seq[String],
      passes: Int, trace: Boolean, sink: String, cores: Int)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Conf(m("fixture"), m("work"), m("queries").split(",").toSeq.filter(_.nonEmpty),
      m("passes").toInt, m("trace") == "1", m("sink"), m("cores").toInt)
  }

  /** Tag carried by every job a query submits: `pass/query/phase`. */
  val TagKey = "perfbench.tag"

  final case class JobRec(id: Int, tag: String, site: String, start: Long,
      var end: Long)
  final case class StageRec(jobId: Int, stageId: Int, name: String,
      start: Long, end: Long, tasks: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shW: Long, shR: Long, spill: Long, outBytes: Long)

  /** Collects jobs, stages and query executions from the listener bus. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageJob = mutable.Map.empty[Int, Int]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val qes = new ConcurrentLinkedQueue[QueryExecution]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      tag.foreach { t =>
        // The result stage carries the job's call site ("parquet at X:n").
        val site = e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name.takeWhile(_ != '\n')).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, t, site, e.time, -1L)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageJob.get(si.stageId).foreach { j =>
          val m = si.taskMetrics
          stages += StageRec(j, si.stageId, si.name.takeWhile(_ != '\n'),
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
            m.outputMetrics.bytesWritten)
        }
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(qe)

    /** The action's execution: the event whose logical plan holds the
      * query's analyzed plan. Events on the shared listener queue arrive
      * in order, so once it is seen every job and stage event of the
      * query has been delivered too. */
    def awaitAction(target: LogicalPlan, timeoutMs: Long): Option[QueryExecution] = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var hit: Option[QueryExecution] = None
      while (hit.isEmpty && System.currentTimeMillis() < deadline) {
        hit = qes.asScala.find(_.logical.find(_ eq target).isDefined)
        if (hit.isEmpty) Thread.sleep(1)
      }
      qes.clear()
      hit
    }

    def take(): (Seq[JobRec], Seq[StageRec]) = synchronized {
      val out = (jobs.values.toSeq, stages.toSeq)
      jobs.clear(); stageJob.clear(); stages.clear()
      out
    }
  }

  /** Non-reused exchanges in a final (adaptive) plan, subqueries
    * included. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case x => (if (x.isInstanceOf[Exchange]) 1 else 0) +
      (x.children ++ x.subqueries).map(exchanges).sum
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    val s = v match {
      case null | None => "null"
      case Some(x) => render(x)
      case x => render(x)
    }
    s"${q(k)}:$s"
  }.mkString("{", ",", "}")
  private def render(v: Any): String = v match {
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case raw: RawJson => raw.s
    case other => q(other.toString)
  }
  final case class RawJson(s: String)

  def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filterNot(_.getName.startsWith(".")).filterNot(_.getName.startsWith("_"))
      .map(countFiles).sum
    else 1

  /** Peak resident set size (VmHWM) since the last [[resetVmHwm]]. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Restart VmHWM from the current RSS, so each pass has its own peak. */
  def resetVmHwm(): Unit = {
    val w = new PrintWriter("/proc/self/clear_refs")
    try w.print("5") finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val work = new File(c.work)
    work.mkdirs()
    val tStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.rdd.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tSpark = System.nanoTime()

    val registry = graft.SparkEntry.queries
    val missing = c.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val out = new File(work, "sink")

    /** Drive one query to full materialization of every column. The
      * verify pass writes one file per query for the oracle check. */
    def action(df: DataFrame, name: String, verify: Boolean): Unit =
      if (verify) df.coalesce(1).write.mode("overwrite")
        .parquet(s"${c.work}/verify/$name")
      else if (c.sink == "parquet") df.write.mode("overwrite")
        .parquet(new File(out, name).getPath)
      else df.write.format("noop").mode("overwrite").save()
    // Rows each query wrote in the verify pass; every later run of the
    // query must write the same number.
    val verifiedRows = mutable.Map.empty[String, Long]
    var obsSeq = 0

    val rec = new Recorder
    val spans = mutable.ArrayBuffer.empty[String]
    var lastSpanId = 0
    def newSpan(): Int = { lastSpanId += 1; lastSpanId }
    def span(id: Int, parent: Int, kind: String, name: String,
        qid: Option[Int], t0: Long, t1: Long,
        attrs: Seq[(String, Any)] = Nil): Int = {
      spans += obj(Seq("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "qid" -> qid, "start_ms" -> t0, "end_ms" -> t1) ++ attrs)
      id
    }
    val workloadSpan = newSpan()
    val workloadT0 = System.currentTimeMillis()
    var qidSeq = 0

    /** One pass over all queries in a fresh session. */
    def pass(label: String, traced: Boolean,
        verify: Boolean): (Double, Seq[String], Long, Double) = {
      val s = spark.newSession()
      if (traced) { sc.addSparkListener(rec); s.listenerManager.register(rec) }
      val rows = mutable.ArrayBuffer.empty[String]
      val passT0 = System.currentTimeMillis()
      var sum = 0.0
      var storagePeak = 0L
      def storageUsed(): Long = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      val passSpan = if (traced) newSpan() else 0
      resetVmHwm()
      c.queries.foreach { name =>
        val fn = registry(name)
        sc.setLocalProperty(TagKey, s"$label/$name/build")
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var err: Option[String] = None
        var tBuilt = t0
        var t1 = t0
        var target: LogicalPlan = null
        var buildAnalysis = 0.0
        var written: Option[Long] = None
        try {
          val df = fn(s, c.fixture)
          tBuilt = System.nanoTime()
          buildAnalysis = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs / 1e3).getOrElse(0.0)
          if (traced) storagePeak = storagePeak max storageUsed()
          sc.setLocalProperty(TagKey, s"$label/$name/execute")
          obsSeq += 1
          val obs = Observation(s"perfbench_rows_$obsSeq")
          val observed = df.observe(obs, count(lit(1)).as("rows"))
          target = observed.queryExecution.analyzed
          action(observed, name, verify)
          t1 = System.nanoTime()
          written = Some(obs.get("rows").asInstanceOf[Long])
        } catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        if (err.isDefined) t1 = System.nanoTime()
        val w1 = System.currentTimeMillis() - (System.nanoTime() - t1) / 1000000L
        sc.setLocalProperty(TagKey, null)
        written.foreach { n =>
          if (verify) verifiedRows(name) = n
          else if (!verifiedRows.get(name).contains(n))
            err = Some(s"wrote $n rows, verified run wrote ${verifiedRows.get(name)}")
        }
        val wall = (t1 - t0) / 1e9
        val build = (tBuilt - t0) / 1e9
        System.err.println(f"[harness] $label $name $wall%.3f s${err.fold("")(" " + _)}")
        sum += wall
        val base = Seq[(String, Any)]("name" -> name, "wall_s" -> wall,
          "build_s" -> build, "action_s" -> (t1 - tBuilt) / 1e9,
          "rows" -> written, "error" -> err)
        val extra: Seq[(String, Any)] = if (!traced) Nil else {
          storagePeak = storagePeak max storageUsed()
          val qe = if (target == null) None else rec.awaitAction(target, 10000)
          val (jobs, stages) = rec.take()
          qidSeq += 1
          val qid = qidSeq
          val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
          def ph(k: String): Double = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          val ex = qe.map(x => exchanges(x.executedPlan)).getOrElse(0)
          val jobPhase = jobs.map(j => j.tag.split("/").last)
          val byJob = stages.groupBy(_.jobId)
          val execIds = jobs.zip(jobPhase).collect { case (j, "execute") => j.id }.toSet
          val execStages = stages.filter(st => execIds(st.jobId))
          val infer = jobs.filter(_.site.contains("Tables.scala"))
          val ckpt = jobs.zip(jobPhase).collect {
            case (j, "build") if j.site.toLowerCase.contains("checkpoint") => j }
          val dur = (j: JobRec) => if (j.end >= j.start) (j.end - j.start) / 1e3 else 0.0
          val files = if (c.sink == "parquet" && !verify) countFiles(new File(out, name)) else 0
          // Spans: query -> build / execute -> jobs -> stages.
          val qSpan = span(newSpan(), passSpan, "query", name, Some(qid), w0, w1)
          val bEnd = w0 + ((tBuilt - t0) / 1000000L)
          val bSpan = span(newSpan(), qSpan, "build", name, Some(qid), w0, bEnd)
          val eSpan = span(newSpan(), qSpan, "execute", name, Some(qid), bEnd, w1,
            Seq("analysis_s" -> (buildAnalysis + ph("analysis")),
              "optimization_s" -> ph("optimization"),
              "planning_s" -> ph("planning")))
          jobs.zip(jobPhase).foreach { case (j, p) =>
            val js = span(newSpan(), if (p == "build") bSpan else eSpan, "job",
              j.site, Some(qid), j.start, if (j.end >= j.start) j.end else j.start)
            byJob.getOrElse(j.id, Nil).foreach { st =>
              span(newSpan(), js, "stage", st.name, Some(qid), st.start, st.end,
                Seq("tasks" -> st.tasks))
            }
          }
          Seq[(String, Any)](
            "analysis_s" -> (buildAnalysis + ph("analysis")),
            "optimization_s" -> ph("optimization"),
            "planning_s" -> ph("planning"),
            "jobs" -> jobs.size, "build_jobs" -> jobPhase.count(_ == "build"),
            "stages" -> stages.size, "tasks" -> stages.map(_.tasks).sum,
            "exchanges" -> ex,
            "inference_jobs" -> infer.size, "inference_s" -> infer.map(dur).sum,
            "checkpoint_jobs" -> ckpt.size,
            "execute_run_s" -> execStages.map(_.runMs).sum / 1e3,
            "cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
            "gc_s" -> stages.map(_.gcMs).sum / 1e3,
            "shuffle_write_b" -> stages.map(_.shW).sum,
            "shuffle_read_b" -> stages.map(_.shR).sum,
            "spill_b" -> stages.map(_.spill).sum,
            "output_rows" -> written.getOrElse(0L),
            "output_b" -> execStages.map(_.outBytes).sum,
            "files" -> files,
            "action_found" -> qe.isDefined)
        }
        rows += obj(base ++ extra)
        // Per-query hygiene, outside the timed window (as in Bench).
        s.catalog.clearCache()
        System.gc()
      }
      if (traced) {
        sc.removeSparkListener(rec)
        s.listenerManager.unregister(rec)
        span(passSpan, workloadSpan, "pass", label, None, passT0,
          System.currentTimeMillis(), Seq("storage_peak_b" -> storagePeak))
      }
      (sum, rows.toSeq, storagePeak, vmHwmMb())
    }

    val verifyRows = pass("verify", traced = false, verify = true)._2
    // The verify pass is cold and writes differently, so one more untimed
    // pass warms the JVM before the first timed one; both count in setup.
    val warmupRows = pass("warmup", traced = false, verify = false)._2
    val firstTimedEpochMs = System.currentTimeMillis()
    val tTimed = System.nanoTime()
    // A fixed count, not a time budget: the JVM keeps warming for many
    // passes, so a count that followed host speed would move the figures.
    val passes = (0 until c.passes).map { i =>
      val traced = c.trace && i % 2 == 0
      val passStart = System.nanoTime()
      val (sum, rows, storagePeak, rss) = pass(s"pass$i", traced, verify = false)
      obj(Seq("index" -> i, "traced" -> traced, "sum_s" -> sum,
        "wall_s" -> (System.nanoTime() - passStart) / 1e9,
        "storage_peak_b" -> storagePeak, "peak_rss_mb" -> rss,
        "queries" -> rows.map(RawJson)))
    }
    val conf = spark.conf.getAll ++ sc.getConf.getAll.toMap
    val result = obj(Seq(
      "spark_version" -> spark.version,
      "java" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "cores" -> c.cores,
      "conf" -> conf.filterNot(_._1.startsWith("spark.app.id")).toMap,
      "queries" -> c.queries,
      "oracle" -> graft.SparkEntry.oracleSql.filter(kv => c.queries.contains(kv._1)),
      "spark_start_s" -> (tSpark - tStart) / 1e9,
      "first_timed_epoch_ms" -> firstTimedEpochMs,
      "measure_s" -> (System.nanoTime() - tTimed) / 1e9,
      "verify" -> verifyRows.map(RawJson),
      "warmup" -> warmupRows.map(RawJson),
      "passes" -> passes.map(RawJson)))
    spark.stop()
    val w = new PrintWriter(new File(work, "result.json"), "UTF-8")
    try w.println(result) finally w.close()
    if (c.trace) {
      span(workloadSpan, 0, "workload", work.getName, None, workloadT0,
        System.currentTimeMillis())
      val sw = new PrintWriter(new File(work, "spans.jsonl"), "UTF-8")
      try spans.foreach(sw.println) finally sw.close()
    }
  }
}
