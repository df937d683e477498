package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.SparkEntry
import graft.enrich.Enrichment
import graft.limit.{RateLimit, SinglePassLimit}
import graft.model.Transcripts
import graft.pipeline.Pipeline
import graft.route.Router

/** Child-JVM side of the benchmark. `perfbench/run.py` starts one of these
  * per sample, reads the `PB {json}` lines it prints on stdout, and checks
  * the outputs it leaves under `--work` after it exits.
  *
  * Modes:
  *  - `pipeline`: one timed `Pipeline.run` with the workload's limits,
  *    into a fresh outRoot;
  *  - `queries`: one timed cycle of the north-rule read queries, each
  *    drained into `noop`; with `--results 1`, then one untimed pass that
  *    writes every result as parquet for the oracle compare;
  *  - `setup`: nothing after the session is ready, for a set-up sample;
  *  - `trace`: the per-layer run — a cumulative prefix ladder over
  *    `Pipeline.run`'s public stages, then traced and untraced runs of the
  *    workload's job (a `Pipeline.run`, or one query cycle), with a
  *    listener recording job spans and per-stage task metrics.
  *
  * Usage: Harness --mode M --input DIR --work DIR --threads N
  *   --search-limit B --fallback-limit B --run-prefix P
  *   [--results 0|1] [--job pipeline|queries]
  */
object Harness {

  val Queries: Seq[String] = Seq("q_route_counts", "q_sink_agg", "q_conv_spans",
    "q_sink_conv_spans", "q_enrich_agg", "q_limit_final")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  /** One protocol line: `PB <json object>`, flushed at once. */
  def emit(kind: String, fields: (String, Any)*): Unit = {
    val m = mutable.LinkedHashMap[String, Any]("kind" -> kind)
    fields.foreach(m += _)
    System.out.println("PB " + mapper.writeValueAsString(toJava(m)))
    System.out.flush()
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak of the heap still in use after a collection (survivor and old
    * spaces), over every GC of this JVM: the retained working set, which
    * follows the program's live data rather than the heap setting. */
  private val heapAfterGcPeak = new AtomicLong(0L)

  private def watchHeap(): Unit = {
    val retained = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
      .map(_.getName).toSet
    val onGc: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if retained(pool) => u.getUsed }.sum
        heapAfterGcPeak.accumulateAndGet(used, math.max(_, _))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** The session `graft.Main` builds, at the thread count the caller gives. */
  def session(threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val threads = opt("threads").toInt
    watchHeap()
    val spark = session(threads)
    emit("ready", "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "threads" -> threads, "master" -> spark.sparkContext.master)
    val cfg = Pipeline.Config(limitRules = RateLimit.defaultRules(
      opt("search-limit").toLong, opt("fallback-limit").toLong))
    val work = opt("work")
    val input = opt("input")
    val prefix = opt("run-prefix")
    opt("mode") match {
      case "pipeline" => pipelineJob(spark, input, work, cfg, prefix)
      case "queries" => queryCycle(spark, input, work, opt.getOrElse("results", "0") == "1")
      case "setup" =>
      case "trace" => Trace.run(spark, input, work, cfg, prefix, threads,
        queries = opt.getOrElse("job", "pipeline") == "queries")
      case m => sys.error(s"unknown mode $m")
    }
    emit("end", "vm_hwm_kb" -> vmHwmKb(), "heap_after_gc_peak_kb" -> heapAfterGcPeak.get / 1024)
    spark.stop()
  }

  /** One timed `Pipeline.run`, collected the way `graft.Main` shows it.
    * The outRoot must be new: `Pipeline.run` resumes from an existing
    * manifest and would skip committed sinks. */
  def timedRun(spark: SparkSession, input: String, out: String, runId: String,
      cfg: Pipeline.Config): (Double, Double) = {
    require(!Files.exists(Paths.get(out)), s"outRoot $out already exists")
    val c0 = cpuNs()
    val t0 = System.nanoTime()
    Pipeline.run(spark, input, out, runId, cfg).orderBy("sink").collect()
    ((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
  }

  /** One timed job into a fresh outRoot named after the run id. A job that
    * throws is reported as `job_failed` and counted by the caller. */
  private def pipelineJob(spark: SparkSession, input: String, work: String,
      cfg: Pipeline.Config, runId: String): Unit = {
    val out = s"$work/$runId"
    try {
      val (wall, cpu) = timedRun(spark, input, out, runId, cfg)
      emit("job", "wall_s" -> wall, "cpu_s" -> cpu, "out" -> out, "run_id" -> runId)
    } catch {
      case NonFatal(e) => emit("job_failed", "run_id" -> runId, "error" -> e.toString)
    }
  }

  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One query, drained into `noop`; returns its wall seconds. */
  def timedQuery(spark: SparkSession, input: String, name: String): Double = {
    val t0 = System.nanoTime()
    drain(SparkEntry.queries(name)(spark, input))
    (System.nanoTime() - t0) / 1e9
  }

  /** Every query's result as parquet plus its oracle SQL, for the output
    * check; emits the per-query walls as a `results` record. */
  def writeResults(spark: SparkSession, input: String, work: String): Unit = {
    val walls = Queries.map { q =>
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, input).write.mode("overwrite").parquet(s"$work/results/$q")
      q -> (System.nanoTime() - t0) / 1e9
    }
    Files.writeString(Paths.get(work, "results", "oracle_sql.json"),
      mapper.writeValueAsString(toJava(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)))
    emit("results", "queries" -> walls.toMap, "wall_s" -> walls.map(_._2).sum)
  }

  /** One timed cycle of every query, one client, each drained into `noop`
    * before the next starts; emits the per-query walls, or `cycle_failed`
    * if a query throws. Then, untimed, the results for the check if asked. */
  private def queryCycle(spark: SparkSession, input: String, work: String,
      results: Boolean): Unit = {
    try {
      val c0 = cpuNs()
      val walls = Queries.map(q => q -> timedQuery(spark, input, q))
      emit("cycle", "cpu_s" -> (cpuNs() - c0) / 1e9,
        "queries" -> walls.toMap, "wall_s" -> walls.map(_._2).sum)
    } catch {
      case NonFatal(e) => emit("cycle_failed", "error" -> e.toString)
    }
    if (results) writeResults(spark, input, work)
  }
}

/** The traced run: prefix ladder, listener spans and per-stage metrics. */
object Trace extends AdaptiveSparkPlanHelper {
  import Harness.{emit, drain}

  final class StageAcc {
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shWrite = 0L
    var shRead = 0L
    var spillDisk = 0L
    val taskRead = mutable.ArrayBuffer[Long]()
  }

  final case class JobSpan(id: Int, callSite: String, start: Long, var end: Long,
      stages: Seq[Int])

  /** Records job spans with their call sites, and task metrics per stage.
    * Read only after [[drainBus]]. */
  final class Recorder extends SparkListener {
    val jobs = mutable.ArrayBuffer[JobSpan]()
    val stages = mutable.HashMap[Int, StageAcc]()

    // a job's call site is the short form its result stage is named after
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val cs = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
      jobs += JobSpan(e.jobId, cs, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new StageAcc)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.spillDisk += m.diskBytesSpilled
        s.taskRead += m.shuffleReadMetrics.totalBytesRead
      }
    }

    def mark: Int = synchronized(jobs.size)
    def since(mark: Int): Seq[JobSpan] = synchronized(jobs.drop(mark).toList)
    def stagesOf(js: Seq[JobSpan]): Seq[StageAcc] = synchronized {
      js.flatMap(_.stages).distinct.flatMap(stages.get)
    }
  }

  def drainBus(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Totals over a set of stages; `skew` is max / mean shuffle bytes read by
    * the tasks of the stages that read a shuffle and write none (the stage
    * consuming the plan's top exchange). */
  private def stageTotals(ss: Seq[StageAcc]): Map[String, Any] = {
    val reading = ss.filter(s => s.shRead > 0 && s.shWrite == 0).flatMap(_.taskRead)
    val skew = if (reading.isEmpty || reading.sum == 0) 0.0
      else reading.max.toDouble / (reading.sum.toDouble / reading.size)
    Map("tasks" -> ss.map(_.tasks).sum, "run_s" -> ss.map(_.runMs).sum / 1e3,
      "cpu_s" -> ss.map(_.cpuNs).sum / 1e9, "gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "shuffle_write_bytes" -> ss.map(_.shWrite).sum,
      "shuffle_read_bytes" -> ss.map(_.shRead).sum,
      "spill_disk_bytes" -> ss.map(_.spillDisk).sum,
      "top_read_skew" -> skew)
  }

  /** The ladder: each rung is a cumulative prefix of `Pipeline.run`'s
    * staging plan, through its public stages, drained into `noop`. */
  def rungs(spark: SparkSession, input: String, cfg: Pipeline.Config)
      : Seq[(String, () => DataFrame)] = {
    def turns = Transcripts.fromEvents(spark, input)
    def grok = Pipeline.parsedProjected(turns)
    def salted = Pipeline.parsedSalted(turns, cfg.saltBuckets)
    def enriched = Enrichment.enrich(salted, spark)
    def targeted = Router.withTargets(enriched, cfg.routeRules)
    def exploded = Router.explodeTargets(targeted)
    // Pipeline.run stages with SinglePassLimit's default salt count
    def staged = SinglePassLimit.staged(exploded, 4)
    Seq("transcripts" -> (() => turns), "grok" -> (() => grok),
      "salt_exchange" -> (() => salted), "enrich" -> (() => enriched),
      "route_targets" -> (() => targeted), "route_explode" -> (() => exploded),
      "limit_exchange" -> (() => staged))
  }

  private def countJoins(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }.size

  /** Per SQL execution submitted in the window [t0, t1] (wall-clock ms) or
    * running any of `jobIds`, from Spark's own SQL status store: its span
    * relative to t0, its job ids, and the file counts of its plan nodes
    * (files read by scans, files written). */
  private def sqlExecutions(spark: SparkSession, jobIds: Set[Int], t0: Long, t1: Long)
      : Seq[Map[String, Any]] = {
    val store = spark.sharedState.statusStore
    val wanted = Set("number of files read", "number of written files")
    store.executionsList().filter { ex =>
      ex.jobs.keys.exists(j => jobIds.contains(j)) ||
        (ex.submissionTime >= t0 && ex.submissionTime <= t1)
    }.map { ex =>
      val values = store.executionMetrics(ex.executionId)
      val counts = mutable.HashMap[String, Long]().withDefaultValue(0L)
      store.planGraph(ex.executionId).allNodes.foreach { node =>
        node.metrics.filter(m => wanted.contains(m.name)).foreach { m =>
          values.get(m.accumulatorId).foreach { v =>
            val n = v.takeWhile(_ != '\n').replaceAll("[^0-9]", "")
            if (n.nonEmpty) counts(m.name) += n.toLong
          }
        }
      }
      Map("description" -> ex.description, "jobs" -> ex.jobs.keys.toSeq.sorted,
        "start_ms" -> (ex.submissionTime - t0),
        "end_ms" -> (ex.completionTime.map(_.getTime).getOrElse(t1) - t0),
        "files_read" -> counts("number of files read"),
        "files_written" -> counts("number of written files"))
    }
  }

  private def spans(rec: Recorder, mark: Int, t0: Long, t1: Long): Seq[Map[String, Any]] =
    rec.since(mark).sortBy(_.start).map { j =>
      Map("job" -> j.id, "call_site" -> j.callSite, "start_ms" -> (j.start - t0),
        "end_ms" -> ((if (j.end < 0) t1 else j.end) - t0), "ended" -> (j.end >= 0),
        "stages" -> j.stages,
        "metrics" -> stageTotals(rec.stagesOf(Seq(j))))
    }

  def run(spark: SparkSession, input: String, work: String, cfg: Pipeline.Config,
      prefix: String, threads: Int, queries: Boolean): Unit = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

    // one untraced-shape warm-up of the job, so the ladder and the traced
    // runs below all see a warm JIT
    def job(tag: String): Double = if (queries) {
      Harness.Queries.map(q => Harness.timedQuery(spark, input, q)).sum
    } else Harness.timedRun(spark, input, s"$work/$tag", s"$prefix-$tag", cfg)._1
    job("warm")

    // ladder: three reps per rung, rung by rung; the caller takes minima
    val ladder = rungs(spark, input, cfg).map { case (name, mk) =>
      val reps = (0 until 3).map { _ =>
        val df = mk()
        drainBus(spark)
        val m = rec.mark
        val t0 = System.nanoTime()
        drain(df)
        val wall = (System.nanoTime() - t0) / 1e9
        drainBus(spark)
        stageTotals(rec.stagesOf(rec.since(m))) + ("wall_s" -> wall)
      }
      val extra = if (name == "limit_exchange") Map("broadcast_hash_joins" -> countJoins(mk()))
        else Map.empty
      Map("rung" -> name, "reps" -> reps) ++ extra
    }
    emit("ladder", "rungs" -> ladder)

    // traced and untraced job walls, in the order T U U T so that JIT
    // warming over the sequence does not bias the overhead; the untraced
    // runs detach the listener
    val traced = mutable.ArrayBuffer[Double]()
    val untraced = mutable.ArrayBuffer[Double]()
    def untracedRun(rep: Int): Unit = {
      spark.sparkContext.removeSparkListener(rec)
      untraced += job(s"untraced-$rep")
      spark.sparkContext.addSparkListener(rec)
    }
    for (rep <- 0 until 2) {
      if (rep == 1) untracedRun(rep)
      drainBus(spark)
      val m = rec.mark
      val known = PerfbenchBus.jobIds(spark.sparkContext).toSet
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val tag = s"traced-$rep"
      val detail: Map[String, Any] = if (queries) {
        val qs = Harness.Queries.map { q =>
          val qm = rec.mark
          val s0 = System.currentTimeMillis()
          val w = Harness.timedQuery(spark, input, q)
          drainBus(spark)
          Map("query" -> q, "wall_s" -> w, "start_ms" -> (s0 - w0),
            "jobs" -> rec.since(qm).map(_.id))
        }
        Map("queries" -> qs)
      } else {
        Harness.timedRun(spark, input, s"$work/$tag", s"$prefix-$tag", cfg)
        Map("out" -> s"$work/$tag", "run_id" -> s"$prefix-$tag")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      traced += wall
      drainBus(spark)
      val js = rec.since(m)
      // the jobs Spark's own status store saw in the window, to cross-check
      // the listener's record
      val statusJobs = PerfbenchBus.jobIds(spark.sparkContext).filterNot(known).sorted
      emit("traced", Seq("rep" -> rep, "wall_s" -> wall, "wall_ms" -> (w1 - w0),
        "spans" -> spans(rec, m, w0, w1), "totals" -> stageTotals(rec.stagesOf(js)),
        "status_jobs" -> statusJobs,
        "sql" -> sqlExecutions(spark, js.map(_.id).toSet, w0, w1),
        "threads" -> threads) ++ detail: _*)
      if (rep == 0) untracedRun(rep)
    }
    emit("overhead", "traced_s" -> traced.toSeq, "untraced_s" -> untraced.toSeq)
    if (queries) Harness.writeResults(spark, input, work)
  }
}
