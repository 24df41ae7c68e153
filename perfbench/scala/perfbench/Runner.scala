package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SortExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM: a single graft session driven as a closed
  * loop with one client. Reads its plan from a properties file written by
  * run.py and writes raw samples as JSON; run.py turns them into metrics.
  *
  * Both modes: session start and a cold pass (the set-up), an untimed pass
  * that keeps the outputs the checks read, untimed warm-up passes, then
  * untraced steady passes for `seconds`. Traced (trace=1) then adds a traced loop of
  * the same length with the listeners attached, and the per-layer probes.
  */
object Runner {
  final case class Query(name: String, run: SparkSession => DataFrame)

  def main(args: Array[String]): Unit = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try p.load(in) finally in.close()
    def prop(k: String): String = Option(p.getProperty(k)).getOrElse(
      throw new IllegalArgumentException(s"missing property $k"))
    val cfg = Cfg(
      data = prop("data"), work = prop("work"),
      out = prop("out"), checkOut = prop("check_out"),
      queries = prop("queries").split(",").toSeq.filter(_.nonEmpty),
      tables = prop("tables").split(",").toSeq.filter(_.nonEmpty),
      seconds = prop("seconds").toDouble, trace = prop("trace") == "1",
      cores = prop("cores").toInt)
    // Every problem is listed and the run stops before a session starts.
    val problems = validate(cfg)
    if (problems.nonEmpty) {
      problems.foreach(m => System.err.println(s"perfbench: $m"))
      System.exit(2)
    }
    new Run(cfg).execute()
    System.exit(0)
  }

  final case class Cfg(data: String, work: String,
      out: String, checkOut: String, queries: Seq[String],
      tables: Seq[String], seconds: Double, trace: Boolean, cores: Int)

  val PipelineQuery = "pipeline"
  // On a 4-core machine steady pass times settle only after about three
  // passes; five steady passes is the least that gives a stable median.
  val WarmPasses = 3
  val MinPasses = 5

  def validate(c: Cfg): Seq[String] = {
    val known = graft.SparkEntry.queries.keySet + PipelineQuery
    val unknown = c.queries.filterNot(known)
    val missing = c.tables.filterNot(t => new File(c.data, t).exists())
    val work = new File(c.work)
    val writable = work.isDirectory && work.canWrite
    unknown.map(q => s"unknown query: $q") ++
      missing.map(t => s"missing input: ${new File(c.data, t)}") ++
      (if (writable) Nil else Seq(s"scratch directory not writable: $work")) ++
      (if (c.queries.isEmpty) Seq("no queries") else Nil)
  }
}

/** Per-query record of one execution. `fromMs` and `toMs` bound its timed
  * region in JVM uptime, the clock GC notifications are stamped with.
  */
final case class Rec(name: String, wall: Double, construct: Double,
    ok: Boolean, leaked: Boolean, trace: Option[Trace], fromMs: Long,
    toMs: Long)

/** Listener-side counters for one query (traced passes only). */
final class Trace {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords,
      outputBytes = 0.0
  val taskDur = mutable.ArrayBuffer.empty[Double]
  var analysisMs, optimizationMs, planningMs = 0.0
  var rowsScanned, rowsOut, joinRowsOut, exchanges, sorts = 0.0
  var asofRows = 0.0
  var filesRead = 0.0
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var streamRows, stateRows, stateMemBytes, commitMs = 0.0
  var persisted = 0L
  var storageMb = 0.0
  val topOps = mutable.Map.empty[String, Double]
}

final class Run(c: Runner.Cfg) {
  import Runner._

  private val nproc = c.cores
  private val out = new Json
  private var spark: SparkSession = _
  private val storeDirs = Seq(
    new File(c.work, "tmp/graft-scratch"), new File(c.work, "warehouse"))
  private var pipelineFacts: Seq[(String, Double)] = Nil

  // ---- heap: in use right after each collection ---------------------
  // Every collection is kept with its end time, young ones included, except
  // those the runner forces itself between queries; heapPeaks picks the
  // ones that ended inside a pass's timed regions.
  private val gcs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private def installGcWatch(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val l = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause != "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .filter { case (pool, _) => heapPools(pool) }
              .map(_._2.getUsed).sum
            gcs.add((info.getGcInfo.getEndTime, used))
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ => ()
    }
  }

  /** Per pass, the most heap in use after a collection that ended inside
    * one of its queries' timed regions; passes without one are left out.
    * Notifications arrive asynchronously, so it waits for them to settle.
    */
  private def heapPeaks(passes: Seq[Seq[Rec]]): Seq[Double] = {
    Thread.sleep(500)
    val all = gcs.asScala.toSeq
    passes.flatMap { p =>
      val in = all.filter { case (end, _) =>
        p.exists(r => end >= r.fromMs && end <= r.toMs) }
      if (in.isEmpty) None else Some(in.map(_._2).max / 1048576.0)
    }
  }
  private def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  // ---- queries -------------------------------------------------------
  private val queries: Seq[Query] = c.queries.map {
    case PipelineQuery => Query(PipelineQuery, s =>
      graft.Pipeline.trainTest(s, graft.Pipeline.Config(fixturesDir = c.data)))
    case q =>
      val fn = graft.SparkEntry.queries(q)
      Query(q, s => fn(s, c.data))
  }

  private def startSession(): Double = {
    val t0 = System.nanoTime()
    spark = graft.engine.Session.local(nproc.toString)
    (System.nanoTime() - t0) / 1e9
  }

  /** The same cleanup before every timed query. Unpersisting is
    * asynchronous: it waits (at most 5 s) for the cached blocks to go before
    * the collection, so the heap after it does not depend on timing.
    */
  private def cleanup(): Unit = {
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
    dropCatalog()
    storeDirs.foreach(d => { deleteTree(d); d.mkdirs() })
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    System.gc()
  }

  private def dropCatalog(): Unit = {
    val cat = spark.sessionState.catalog
    cat.listDatabases().filterNot(_ == "default").foreach(db =>
      cat.dropDatabase(db, ignoreIfNotExists = true, cascade = true))
    cat.listTables("default").foreach(t =>
      cat.dropTable(t, ignoreIfNotExists = true, purge = true))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run one query under the closed loop: cleanup, construct, materialize,
    * then the leak check (outside the timed region). The check looks before
    * anything is released: a query must leave no tracked intermediate and
    * no new persistent RDD. The pipeline alone may leave the caches its
    * result reads, which it holds by design until the caller releases them:
    * the split `trainTest` persists and the range-partitioned frame
    * `Split.exact` registers with `Caches`.
    */
  private def runQuery(q: Query, sink: DataFrame => Unit,
      tracer: Option[Tracer] = None): Rec = {
    cleanup()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    tracer.foreach(_.begin())
    val from = uptimeMs
    val t0 = System.nanoTime()
    var t1 = t0
    var err: String = null
    var df: DataFrame = null
    try {
      df = q.run(spark)
      t1 = System.nanoTime()
      sink(df)
    } catch {
      case e: Throwable =>
        err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        if (t1 == t0) t1 = System.nanoTime()
    }
    val t2 = System.nanoTime()
    val to = uptimeMs
    val tr = tracer.map(_.end())
    val pipeline = q.name == PipelineQuery
    val allowed = if (pipeline && df != null) cachedRdds(df) else Set.empty[Int]
    val tracked = if (pipeline) 0 else graft.engine.Caches.trackedCount
    val stray = spark.sparkContext.getPersistentRDDs.keySet
      .filter(id => !before(id) && !allowed(id))
    graft.engine.Caches.releaseAll()
    spark.catalog.clearCache()
    val leaked = tracked != 0 || stray.nonEmpty
    if (err != null) System.err.println(s"perfbench: ${q.name} failed: $err")
    if (leaked) System.err.println(s"perfbench: ${q.name} left cached data: " +
      s"$tracked tracked intermediates, persistent RDDs ${stray.mkString(",")}")
    Rec(q.name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, err == null, leaked, tr,
      from, to)
  }

  /** The ids of the materialized cached RDDs that `df`'s plan reads,
    * directly or through another cache.
    */
  private def cachedRdds(df: DataFrame): Set[Int] = {
    def loaded(m: InMemoryRelation): Set[Int] =
      if (!m.cacheBuilder.isCachedColumnBuffersLoaded) Set.empty
      else Tracer.nodes(m.cacheBuilder.cachedPlan).collect {
        case s: InMemoryTableScanExec => loaded(s.relation)
      }.flatten.toSet + m.cacheBuilder.cachedColumnBuffers.id
    df.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }
      .flatMap(loaded).toSet
  }

  private def pass(tracer: Option[Tracer] = None): Seq[Rec] =
    queries.map(q => runQuery(q, noop, tracer))

  /** Complete passes until `seconds` of wall time have gone by. */
  private def steady(tracer: Option[Tracer] = None): Seq[Seq[Rec]] = {
    val passes = mutable.ArrayBuffer.empty[Seq[Rec]]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses ||
        (System.nanoTime() - t0) / 1e9 < c.seconds)
      passes += pass(tracer)
    passes.toSeq
  }

  def execute(): Unit = {
    installGcWatch()
    out.num("cores", nproc)
    out.num("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    out.str("spark_version", org.apache.spark.SPARK_VERSION)
    out.raw("load_before", Load.probe(nproc).json)

    val sessionS = startSession()
    val cold = pass()
    out.num("session_start_s", sessionS)
    out.raw("cold", recsJson(cold))
    // Untimed: one more pass that keeps what the output checks read.
    val checked = queries.map(q => runQuery(q, checkSink(q)))
    out.raw("checked", recsJson(checked))
    out.raw("pipeline_facts", pipelineFacts.map { case (k, v) =>
      s"${Json.q(k)}:${fmt(v)}" }.mkString("{", ",", "}"))
    // The JIT is still compiling the engine's hot paths for the first
    // passes after the cold one: these warm-up passes are run, checked for
    // failures, and left out of the timings.
    val warm = (1 to WarmPasses).flatMap(_ => pass())
    out.raw("warm", recsJson(warm))
    val steadyPasses = steady()
    out.raw("heap_peak_mb", heapPeaks(steadyPasses).map(Json.num)
      .mkString("[", ",", "]"))
    out.raw("steady", steadyPasses.map(recsJson).mkString("[", ",", "]"))
    if (c.trace) traced()
    out.raw("load_after", Load.probe(nproc).json)
    spark.stop()
    java.nio.file.Files.writeString(new File(c.out).toPath, out.render)
  }

  /** What the output checks read: each SQL query's rows as Parquet
    * (digested by run.py), and the pipeline's invariants.
    */
  private def checkSink(q: Query): DataFrame => Unit =
    if (q.name == PipelineQuery) df => {
      val row = df.selectExpr(
        "count(*) AS n",
        "sum(CASE WHEN aug_k = 0 THEN 1 ELSE 0 END) AS samples",
        "sum(CASE WHEN is_train = 1 AND aug_k = 0 THEN 1 ELSE 0 END) AS train",
        "sum(CASE WHEN is_train = 1 THEN 1 ELSE 0 END) AS train_aug",
        "min(size(features)) AS wmin", "max(size(features)) AS wmax",
        "sum(CASE WHEN air_temp = -9999.0 THEN 1 ELSE 0 END) AS sentinel")
        .head()
      pipelineFacts = (0 until row.length).map(i =>
        row.schema(i).name -> row.get(i).asInstanceOf[Number].doubleValue)
    }
    else _.write.mode("overwrite").parquet(
      new File(c.checkOut, q.name).getAbsolutePath)

  private def recsJson(rs: Seq[Rec]): String = rs.map { r =>
    s"""{"name":${Json.q(r.name)},"wall":${fmt(r.wall)},""" +
      s""""construct":${fmt(r.construct)},"ok":${r.ok},""" +
      s""""leaked":${r.leaked}${r.trace.map(t => ",\"trace\":" +
        Tracer.json(t)).getOrElse("")}}"""
  }.mkString("[", ",", "]")

  // ---- traced run ----------------------------------------------------
  private def traced(): Unit = {
    val tracer = new Tracer(spark)
    tracer.attach()
    val passes = steady(Some(tracer))
    tracer.detach()
    out.raw("traced", passes.map(recsJson).mkString("[", ",", "]"))
    out.raw("probes", new Probes(spark, c, noop).run().map {
      case (k, v) => s"${Json.q(k)}:${fmt(v)}" }.mkString("{", ",", "}"))
  }

  private def fmt(v: Double): String = Json.num(v)
}

/** Attaches a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, and books every event onto the current query.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var cur = new Trace

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cur.jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      cur.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = cur
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failedTasks += 1
      t.taskDur += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      book(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      book(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = cur
      t.batches += 1
      val d = p.durationMs
      def ms(k: String): Double =
        if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      t.batchMs += ms("triggerExecution")
      t.commitMs += ms("commitOffsets") + ms("walCommit")
      t.streamRows += p.numInputRows
      p.stateOperators.foreach { s =>
        t.stateRows += s.numRowsTotal
        t.stateMemBytes += s.memoryUsedBytes
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    cur = new Trace
  }

  /** Drain the bus so every event of the query is booked, then sample the
    * cache state the query left behind.
    */
  def end(): Trace = {
    PerfbenchBus.drain(spark.sparkContext)
    val t = cur
    t.persisted = graft.engine.Caches.trackedCount
    t.storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    t
  }

  private def book(qe: QueryExecution): Unit = {
    val t = cur
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    t.analysisMs += ms("analysis")
    t.optimizationMs += ms("optimization")
    t.planningMs += ms("planning")
    val nodes = Tracer.nodes(qe.executedPlan)
    def metric(n: SparkPlan, k: String): Double =
      n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    // The root's rows: the first node from the top that counts its output.
    nodes.find(_.metrics.contains("numOutputRows"))
      .foreach(n => t.rowsOut += metric(n, "numOutputRows"))
    nodes.foreach { n =>
      val cls = n.getClass.getSimpleName
      if (cls.contains("Scan")) t.rowsScanned += metric(n, "numOutputRows")
      if (cls.contains("Join")) t.joinRowsOut += metric(n, "numOutputRows")
      if (cls.contains("AsOfJoin")) t.asofRows += metric(n, "numOutputRows")
      n match {
        case _: Exchange => t.exchanges += 1
        case _: SortExec => t.sorts += 1
        case f: FileSourceScanExec => t.filesRead += metric(f, "numFiles")
        case _ => ()
      }
      val opMs = n.metrics.values.map { m =>
        m.metricType match {
          case "timing" => m.value.toDouble
          case "nsTiming" => m.value / 1e6
          case _ => 0.0
        }
      }.sum
      if (opMs > 0) t.topOps(n.nodeName) = t.topOps.getOrElse(n.nodeName, 0.0) + opMs
    }
  }
}

object Tracer {
  /** Every physical node of an executed plan, through adaptive and reused
    * stages, writes and subqueries; root first.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val acc = mutable.ArrayBuffer.empty[SparkPlan]
    // A reused exchange or cached plan is reached more than once but ran
    // once: each node is counted once.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(n: SparkPlan): Unit = if (seen.add(n)) n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case other =>
        acc += other
        other match {
          case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
          case _ => ()
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    acc.toSeq
  }

  def json(t: Trace): String = {
    val top = t.topOps.toSeq.sortBy(-_._2).take(3)
      .map { case (k, v) => s"[${Json.q(k)},${Json.num(v)}]" }.mkString("[", ",", "]")
    val fields = Seq(
      "jobs" -> t.jobs.toDouble, "stages" -> t.stages.toDouble,
      "tasks" -> t.tasks.toDouble, "failed_tasks" -> t.failedTasks.toDouble,
      "task_ms" -> t.taskMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs,
      "shuffle_write" -> t.shuffleWrite, "shuffle_read" -> t.shuffleRead,
      "spill" -> t.spill, "input_bytes" -> t.inputBytes,
      "input_records" -> t.inputRecords, "output_bytes" -> t.outputBytes,
      "analysis_ms" -> t.analysisMs, "optimization_ms" -> t.optimizationMs,
      "planning_ms" -> t.planningMs, "rows_scanned" -> t.rowsScanned,
      "rows_out" -> t.rowsOut, "join_rows_out" -> t.joinRowsOut,
      "exchanges" -> t.exchanges, "sorts" -> t.sorts,
      "asof_rows" -> t.asofRows,
      "files_read" -> t.filesRead, "batches" -> t.batches.toDouble,
      "stream_rows" -> t.streamRows, "state_rows" -> t.stateRows,
      "state_mem" -> t.stateMemBytes, "commit_ms" -> t.commitMs,
      "persisted" -> t.persisted.toDouble, "storage_mb" -> t.storageMb)
    fields.map { case (k, v) => s"${Json.q(k)}:${Json.num(v)}" }.mkString("{", ",", "") +
      s""","task_durs":${t.taskDur.map(Json.num).mkString("[", ",", "]")}""" +
      s""","batch_ms":${t.batchMs.map(Json.num).mkString("[", ",", "]")}""" +
      s""","top_ops":$top}"""
  }
}

/** Per-layer probes that call one layer's public functions alone. */
final class Probes(spark: SparkSession, c: Runner.Cfg,
    noop: DataFrame => Unit) {
  private def timed(f: => Unit): Double = {
    System.gc()
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def med3(f: => Unit): Double = median((1 to 3).map(_ => timed(f)))

  def run(): Seq[(String, Double)] =
    if (c.queries.contains(Runner.PipelineQuery)) landsat() ++ polyHashLandsat()
    else asOf() ++ kernels()

  private def landsat(): Seq[(String, Double)] = {
    import graft.io.Sources
    val d = c.data
    val base = graft.Pipeline.Config(fixturesDir = d)
    // Cumulative prefixes, timed once each: a stage's self time is the
    // difference between its prefix and the one before.
    val feats = timed(noop(graft.Pipeline.features(spark, base)))
    val split = timed {
      noop(graft.Pipeline.trainTest(spark, base.copy(augment = false)))
      spark.catalog.clearCache()
    }
    val full = timed {
      noop(graft.Pipeline.trainTest(spark, base))
      spark.catalog.clearCache()
    }
    Seq(
      "pipeline.features_s" -> feats,
      "pipeline.split_s" -> (split - feats),
      "pipeline.augment_s" -> (full - split),
      "io.scenes_s" -> med3(noop(Sources.scenes(spark, s"$d/scenes/scenes.jsonl"))),
      "io.stations_s" -> med3(noop(Sources.stationLists(spark, s"$d/stations"))),
      "io.metadata_s" -> med3(noop(Sources.metadata(spark, s"$d/metadatas"))),
      "io.ground_truths_s" -> med3(noop(
        Sources.groundTruths(spark, s"$d/ground_truths.csv"))))
  }

  private def polyHashLandsat(): Seq[(String, Double)] = {
    val st = graft.io.Sources.stationLists(spark, s"${c.data}/stations")
      .selectExpr("scene_id", "explode(stations) AS station_id")
      .persist()
    val n = st.count().toDouble
    val t = med3(noop(st.selectExpr(
      "graft_poly_hash(concat_ws('|', scene_id, cast(station_id AS string))) AS h")))
    st.unpersist(true)
    Seq("fn.graft_poly_hash.rows_per_s" -> n / t)
  }

  /** One backward as-of join (purchases to their latest click) alone:
    * AsOfJoinExec has no timing metric of its own.
    */
  private def asOf(): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.col
    val ev = graft.queries.Tables.events(spark, c.data)
      .select("event_id", "user_id", "ts", "event_type").persist()
    ev.count()
    val left = ev.filter(col("event_type") === "purchase")
    val right = ev.filter(col("event_type") === "click")
    val t = med3(noop(graft.ops.AsOf.joinBackward(left, right, Seq("user_id"),
      "ts", "ts", Seq("event_id"))))
    ev.unpersist(true)
    Seq("plans.asof_ms" -> t * 1e3)
  }

  /** Each native kernel alone over a generated column. */
  private def kernels(): Seq[(String, Double)] = {
    val docs = spark.read.parquet(s"${c.data}/documents.parquet")
      .select("text").persist()
    val nd = docs.count().toDouble
    val emb = spark.read.parquet(s"${c.data}/embeddings.parquet")
      .selectExpr("cast(embedding AS array<double>) AS v").persist()
    val ne = emb.count().toDouble
    val cb = emb.limit(16).collect().flatMap(_.getSeq[Double](0))
    val cbLit = cb.map(x => s"cast($x AS double)").mkString("array(", ",", ")")
    val text = Seq(
      "graft_multi_shingle_hashes" -> "graft_multi_shingle_hashes(text, '3,5')",
      "graft_shingle_hashes" -> "graft_shingle_hashes(text, 5)",
      "graft_winnow" -> "graft_winnow(text, 5, 4)",
      "graft_lsh_bands" -> "graft_lsh_bands(text, 5, 32, 8)",
      "graft_poly_hash" -> "graft_poly_hash(text)",
      "graft_cut_spans" -> "graft_cut_spans(text, array(0, 7), 5)",
      "graft_token_stats" -> "graft_token_stats(split(text, ' '))",
      "graft_rep_stats" -> "graft_rep_stats(split(text, ' '))")
    val vec = Seq(
      "graft_pq_encode" -> s"graft_pq_encode(v, $cbLit, 8)",
      "graft_int8_codes" -> "graft_int8_codes(v)",
      "graft_dot" -> "graft_dot(v, v)")
    val r = text.map { case (k, e) =>
      s"fn.$k.rows_per_s" -> nd / med3(noop(docs.selectExpr(s"$e AS x")))
    } ++ vec.map { case (k, e) =>
      s"fn.$k.rows_per_s" -> ne / med3(noop(emb.selectExpr(s"$e AS x")))
    }
    docs.unpersist(true)
    emb.unpersist(true)
    r
  }
}

/** Machine-load probe: the median of three single-thread burns against
  * one burn on every core at once. `effective_cores` = cores × solo / wall
  * reads `cores` on an idle machine and less when others hold the CPUs.
  */
object Load {
  final case class Reading(solo: Seq[Double], wide: Double, cores: Int) {
    def effective: Double = {
      val s = solo.sorted
      cores * s(s.size / 2) / wide
    }
    def json: String =
      s"""{"solo_s":${solo.map(Json.num).mkString("[", ",", "]")},""" +
        s""""wide_s":${Json.num(wide)},"effective_cores":${Json.num(effective)}}"""
  }
  @volatile private var sink = 0L
  private def burn(): Double = {
    val t0 = System.nanoTime()
    var x = 0L; var i = 0L
    while (i < 100000000L) { x += i * i; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e9
  }
  def probe(cores: Int): Reading = {
    burn()
    val solo = (1 to 3).map(_ => burn())
    val t0 = System.nanoTime()
    val ts = (1 to cores).map(_ => new Thread(() => { burn(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    Reading(solo, (System.nanoTime() - t0) / 1e9, cores)
  }
}

/** Minimal JSON object builder for the run record. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def num(k: String, v: Double): Unit = fields += s"${Json.q(k)}:${Json.num(v)}"
  def str(k: String, v: String): Unit = fields += s"${Json.q(k)}:${Json.q(v)}"
  def raw(k: String, v: String): Unit = fields += s"${Json.q(k)}:$v"
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
