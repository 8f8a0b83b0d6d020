package soilbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, SparkEntry, Tables}

/** One benchmark run in one JVM: set-up, a cold pass over
  * the workload's operations in the fresh session, an untimed check pass
  * that lands every operation's output as parquet for the DuckDB
  * comparison, and a fixed number of warm passes (at least three, and
  * enough for passes of nominal length to measure `seconds`).
  *
  * Every timed operation is a builder (a registered query, or one of
  * [[IoOps]]) followed by the noop sink, as `graft.Bench.runNoop` times
  * it. The check pass and each warm pass run in a fresh
  * `SparkSession.newSession()` after every cached plan and persisted RDD
  * set-up did not create is dropped, so no pass is served from a memo,
  * landing or cache an earlier pass filled, while the base tables cached
  * at set-up (`graft.Tables`, keyed by lake dir) stay shared, as in a
  * long-lived session.
  *
  * Prints one line `SOILBENCH {json}` on stdout. Layer numbers are read
  * from Spark's hooks: listener events, planning-tracker phases, the
  * codegen compile histogram and compile time, RDD storage info.
  *
  * Usage: Harness <workload> <lakeDir> <checkDir> <scratchDir> <seconds>
  *          <trace 0|1> <ops,comma,separated> <tables,comma,separated>
  */
object Harness {

  final case class Args(workload: String, lake: String, checkDir: String,
      scratch: String, seconds: Double, trace: Boolean,
      ops: Seq[String], tables: Seq[String]) {
    private val io = new IoOps(scratch)
    val builders: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries ++ io.ops
    val oracle: Map[String, String] = SparkEntry.oracleSql ++ io.oracle
  }

  /** Per-operation tallies. Times in seconds, sizes in bytes. */
  final class Tally {
    var jobs, stages, tasks, compiles, writeFiles = 0L
    var runS, cpuS, maxTaskS = 0.0
    var scanB, shuffleWriteB, spillB, writeB = 0.0
    var analysisS, optimizationS, planningS = 0.0
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(o: Tally): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      compiles += o.compiles; writeFiles += o.writeFiles
      runS += o.runS; cpuS += o.cpuS
      maxTaskS = math.max(maxTaskS, o.maxTaskS)
      scanB += o.scanB; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
      writeB += o.writeB; analysisS += o.analysisS
      optimizationS += o.optimizationS; planningS += o.planningS
    }
  }

  /** Listener that charges every job, stage and task to an operation.
    * Jobs carry the job group the harness sets before each operation;
    * jobs Spark submits under its own group (broadcast exchanges) are
    * charged to the operation running when their event is dispatched,
    * which is exact because the harness drains the bus after every
    * operation in traced runs. */
  final class Profile(traced: Boolean) extends SparkListener {
    @volatile var current: String = ""
    val tallies = new ConcurrentHashMap[String, Tally]()
    private val stageOwner = new ConcurrentHashMap[Int, String]()
    @volatile var cpuNs = 0L

    def tally(k: String): Tally = tallies.computeIfAbsent(k, _ => new Tally)

    private def owner(props: java.util.Properties): String = {
      val g = Option(props).flatMap(p =>
        Option(p.getProperty(JobGroupKey)))
      g.filter(_.contains("/")).getOrElse(current)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      val k = owner(e.properties)
      tally(k).synchronized(tally(k).jobs += 1)
      e.stageIds.foreach(id => stageOwner.put(id, k))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) {
        val info = e.stageInfo
        val k = Option(stageOwner.get(info.stageId)).getOrElse(current)
        val t = tally(k)
        t.synchronized {
          t.stages += 1
          for (s <- info.submissionTime; c <- info.completionTime)
            t.stageSpans += ((s, c))
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized(cpuNs += m.executorCpuTime)
      if (traced && m != null) {
        val k = Option(stageOwner.get(e.stageId)).getOrElse(current)
        val t = tally(k)
        t.synchronized {
          t.tasks += 1
          t.runS += m.executorRunTime / 1e3
          t.cpuS += m.executorCpuTime / 1e9
          t.maxTaskS = math.max(t.maxTaskS, e.taskInfo.duration / 1e3)
          t.scanB += m.inputMetrics.bytesRead
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          t.writeB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val JobGroupKey = "spark.jobGroup.id"

  /** Nominal seconds of one warm pass (every workload's warm pass takes
    * 2.2 to 3.5 s on a 4-core host), from which the pass count follows. */
  private val NominalPassS = 2.5

  /** Planning phases and file-write counts of every executed query,
    * charged to the running operation. */
  final class Planning(p: Profile) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val t = p.tally(p.current)
      val ph = qe.tracker.phases
      def sec(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val files = qe.executedPlan.collect { case n => n.metrics.get("numFiles") }
        .flatten.map(_.value).sum
      t.synchronized {
        t.analysisS += sec(QueryPlanningTracker.ANALYSIS)
        t.optimizationS += sec(QueryPlanningTracker.OPTIMIZATION)
        t.planningS += sec(QueryPlanningTracker.PLANNING)
        t.writeFiles += files
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  final case class OpRun(op: String, wall: Double, build: Double,
      exec: Double, error: Option[String])

  final case class Pass(name: String, wall: Double, cpuS: Double,
      compiles: Long, compileS: Double, gcS: Double, runs: Seq[OpRun],
      storageRdds: Int, storageB: Double)

  private def now: Double = System.nanoTime() / 1e9

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compileNs: Long = CodeGenerator.compileTime

  /** Collection time of every collector in this JVM, driver included. */
  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def storage(spark: SparkSession): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => (i.memSize + i.diskSize).toDouble).sum)
  }

  private def errMsg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)

  /** One set-up: session up, the workload's base tables loaded and
    * materialized in the `Tables` cache. Returns (session, profile,
    * fill seconds). */
  private def setUp(a: Args): (SparkSession, Profile, Double) = {
    val spark = Bench.session("4")
    val prof = new Profile(a.trace)
    spark.sparkContext.addSparkListener(prof)
    if (a.trace) spark.listenerManager.register(new Planning(prof))
    val t0 = now
    loadTables(spark, a)
    (spark, prof, now - t0)
  }

  /** Load the workload's base tables into the `Tables` cache and
    * materialize them. */
  private def loadTables(spark: SparkSession, a: Args): Unit =
    a.tables.foreach { t =>
      val df = if (t == "events") Tables.events(spark, a.lake)
               else Tables.load(spark, a.lake, t)
      df.write.format("noop").mode("overwrite").save()
    }

  private def tearDown(spark: SparkSession): Unit = {
    Tables.clearCache()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** One pass over the operations in `session`, each labelled with its
    * job group and timed as builder call + noop-sink action. */
  private def pass(a: Args, name: String, session: SparkSession,
      prof: Profile): Pass = {
    val sc = session.sparkContext
    ListenerDrain.drain(sc)
    val cpu0 = prof.cpuNs
    val gc0 = gcMs
    val c0 = compiles
    val cn0 = compileNs
    var maxRdds = 0
    var maxB = 0.0
    val t0 = now
    val runs = a.ops.map { op =>
      val label = s"${a.workload}/$name/$op"
      prof.current = label
      sc.setJobGroup(label, s"soilbench $label", interruptOnCancel = false)
      val cc0 = compiles
      val s0 = now
      var built = s0
      val err =
        try {
          val df = a.builders(op)(session, a.lake)
          built = now
          if (a.trace) {
            val ph = df.queryExecution.tracker.phases
            val t = prof.tally(label)
            t.synchronized(t.analysisS +=
              ph.get(QueryPlanningTracker.ANALYSIS).map(_.durationMs / 1e3).getOrElse(0.0))
          }
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(errMsg(e)) }
      val s1 = now
      sc.clearJobGroup()
      if (a.trace) {
        ListenerDrain.drain(sc)
        val t = prof.tally(label)
        t.synchronized(t.compiles += compiles - cc0)
        val (n, b) = storage(session)
        maxRdds = math.max(maxRdds, n)
        maxB = math.max(maxB, b)
      }
      OpRun(op, s1 - s0, built - s0, s1 - built, err)
    }
    val wall = runs.map(_.wall).sum
    val elapsed = now - t0
    val gc1 = gcMs
    ListenerDrain.drain(sc)
    prof.current = ""
    Pass(name, if (a.trace) wall else elapsed, (prof.cpuNs - cpu0) / 1e9,
      compiles - c0, (compileNs - cn0) / 1e9, (gc1 - gc0) / 1e3, runs, maxRdds, maxB)
  }

  /** Land every operation's output and its oracle SQL for the DuckDB
    * comparison (outside every timed region). */
  private def check(a: Args, session: SparkSession): Map[String, String] = {
    new java.io.File(a.checkDir).mkdirs()
    val sql = a.ops.flatMap(op => a.oracle.get(op).map(op -> _))
      .map { case (k, v) => s"${graft.Json.str(k)}:${graft.Json.str(v)}" }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(a.checkDir, "oracle_sql.json"), sql.mkString("{", ",", "}"))
    a.ops.flatMap { op =>
      try {
        a.builders(op)(session, a.lake).coalesce(1).write
          .mode("overwrite").parquet(s"${a.checkDir}/$op")
        None
      } catch { case e: Throwable => Some(op -> errMsg(e)) }
    }.toMap
  }

  /** The entries of Spark's shared cache manager (a private list, read
    * reflectively; a change of its shape fails the run). */
  private def cacheEntries(spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.CachedData] = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[org.apache.spark.sql.execution.CachedData]]
  }

  /** Table names held in the `graft.Tables` cache (a private map, read
    * reflectively; a change of its shape fails the run). */
  private def cachedTables: Set[String] = {
    val f = Tables.getClass.getDeclaredFields.find(_.getName.endsWith("cached"))
      .getOrElse(throw new IllegalStateException("graft.Tables has no cache field"))
    f.setAccessible(true)
    f.get(Tables).asInstanceOf[scala.collection.Map[(String, String), _]]
      .keys.map(_._2).toSet
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3), argv(4).toDouble,
      argv(5) == "1", argv(6).split(",").toSeq, argv(7).split(",").toSeq)
    val unknown = a.ops.filterNot(a.builders.contains)
    require(unknown.isEmpty, s"unregistered operations: ${unknown.mkString(",")}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    // Set-up, timed from process start: JVM and Spark class loading,
    // the session and the first load of the base tables.
    val (spark, prof, fill) = setUp(a)
    val setup = System.currentTimeMillis() / 1e3 - jvmStart
    val (baseCount, baseB) = storage(spark)
    val baseParts = spark.sparkContext.getRDDStorageInfo.map(_.numPartitions).sum

    val baseEntries = cacheEntries(spark)
    val baseRddIds = spark.sparkContext.getPersistentRDDs.keySet
    val cold = pass(a, "cold", spark, prof)
    val warm = mutable.ArrayBuffer.empty[Pass]
    var cacheB = 0.0
    // Memo guard, untimed, before every later pass. A fresh session
    // misses the registry's session-keyed memos. Spark's cache manager
    // is shared by all sessions and matches by plan, so a
    // `Dataset.cache()` an earlier pass left behind would serve an
    // identical rebuilt plan: every cached plan and persisted RDD that
    // set-up did not create is dropped, so each pass starts from the
    // state set-up left.
    def fresh(): SparkSession = {
      val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      cacheEntries(spark).filterNot(e => baseEntries.exists(_ eq e))
        .foreach(e => cs.sharedState.cacheManager
          .uncacheQuery(cs, e.plan, cascade = false, blocking = true))
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseRddIds.contains(id)) rdd.unpersist(blocking = true)
      }
      val s = spark.newSession()
      if (a.trace) s.listenerManager.register(new Planning(prof))
      s
    }
    // The untimed check pass runs before the warm passes: the passes
    // right after a cold pass still ride the JIT warm-up, and starting
    // the timed ones one pass later steadies them.
    val checkErrors = check(a, fresh())
    // A fixed number of warm passes, from `seconds` alone: at least
    // three (so the median rejects one outlier), and enough for passes
    // of the nominal length to measure `seconds`. Stopping on elapsed
    // time instead would give a fast run more passes further along the
    // JIT warm-up, and so a lower median, than a slow one.
    val warmPasses = math.max(3, math.ceil(a.seconds / NominalPassS).toInt)
    while (warm.size < warmPasses) {
      warm += pass(a, s"warm${warm.size + 1}", fresh(), prof)
      if (warm.size == 1) cacheB = storage(spark)._2
    }
    // base tables an operation loaded that set-up did not: their cache
    // fill would be timed inside a pass
    val unloaded = cachedTables.filterNot(a.tables.contains).toSeq.sorted

    // ---- report ---------------------------------------------------------
    def j(s: String): String = graft.Json.str(s)
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    def tallyOf(p: Pass): Tally = {
      val t = new Tally
      p.runs.foreach(r => t.add(prof.tally(s"${a.workload}/${p.name}/${r.op}")))
      t
    }
    // wall time of an operation with none of its stages active
    def serialGap(p: Pass, r: OpRun): Double = math.max(0.0, r.wall -
      activeSeconds(prof.tally(s"${a.workload}/${p.name}/${r.op}").stageSpans.toSeq))
    def opsJson(p: Pass): String = p.runs.map { r =>
      val t = prof.tally(s"${a.workload}/${p.name}/${r.op}")
      s"""{"op":${j(r.op)},"wall":${num(r.wall)},"build":${num(r.build)},""" +
        s""""exec":${num(r.exec)},""" +
        (if (!a.trace) ""
         else s""""jobs":${t.jobs},"stages":${t.stages},""" +
           s""""shuffle_write_b":${num(t.shuffleWriteB)},"compiles":${t.compiles},""" +
           s""""serial_gap":${num(serialGap(p, r))},""") +
        s""""error":${r.error.map(j).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    def passJson(p: Pass): String = {
      val t = tallyOf(p)
      val base = s"""{"name":${j(p.name)},"wall":${num(p.wall)},"cpu_s":${num(p.cpuS)},""" +
        s""""compiles":${p.compiles},"compile_s":${num(p.compileS)}"""
      if (!a.trace) base + s""","ops":${opsJson(p)}}"""
      else base +
        s""","build_s":${num(p.runs.map(_.build).sum)},"exec_s":${num(p.runs.map(_.exec).sum)},""" +
        s""""jobs":${t.jobs},"stages":${t.stages},"tasks":${t.tasks},""" +
        s""""task_run_s":${num(t.runS)},"task_cpu_s":${num(t.cpuS)},"gc_s":${num(p.gcS)},""" +
        s""""max_task_s":${num(t.maxTaskS)},""" +
        s""""scan_b":${num(t.scanB)},"shuffle_write_b":${num(t.shuffleWriteB)},""" +
        s""""spill_b":${num(t.spillB)},"write_b":${num(t.writeB)},"write_files":${t.writeFiles},""" +
        s""""analysis_s":${num(t.analysisS)},"optimization_s":${num(t.optimizationS)},""" +
        s""""planning_s":${num(t.planningS)},"serial_gap_s":${num(p.runs.map(serialGap(p, _)).sum)},""" +
        s""""storage_rdds":${p.storageRdds},"storage_b":${num(p.storageB)},""" +
        s""""ops":${opsJson(p)}}"""
    }
    val errs = (Seq(cold) ++ warm).flatMap(_.runs).collect {
      case r if r.error.isDefined => r.op -> r.error.get }.toMap ++ checkErrors
    val line =
      s"""{"setup_s":${num(setup)},"fill_s":${num(fill)},""" +
        s""""base_rdds":$baseCount,"base_partitions":$baseParts,"base_b":${num(baseB)},""" +
        s""""cache_b":${num(cacheB)},"cold":${passJson(cold)},""" +
        s""""warm":${warm.map(passJson).mkString("[", ",", "]")},""" +
        s""""unloaded_tables":${unloaded.map(j).mkString("[", ",", "]")},""" +
        s""""errors":${errs.map { case (k, v) => s"${j(k)}:${j(v)}" }.mkString("{", ",", "}")},""" +
        s""""load_avg":${num(java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage)}}"""
    println("SOILBENCH " + line)
    System.out.flush()
    tearDown(spark)
  }

  /** Total length of the union of [start, end] millisecond spans. */
  def activeSeconds(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
