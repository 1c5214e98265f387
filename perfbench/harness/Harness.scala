package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftSparkHooks
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftFunctions, SessionMemo, SparkEntry}

/** One span of the trace tree: pass > key > construct|plan|execute >
  * job > stage, and stream batches under the construct span that drained
  * them. Times are epoch milliseconds (the clock Spark stamps its events
  * with), so driver-side spans and listener events share one axis. */
final case class Span(id: Long, parent: Long, pass: Int, name: String,
    start: Long, end: Long)

/** Raw listener events, kept in memory and attributed to phase spans by
  * time once the pass is over and the listener bus has drained. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, var start: Long, var end: Long,
      tasks: ArrayBuffer[Long] = ArrayBuffer.empty)
  final case class Batch(query: String, id: Long, start: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long)

  /** full recording (the traced passes) or shuffle bytes only */
  @volatile var tracing = false
  val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong()
  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.Map.empty[Int, Stage]
  val batches = ArrayBuffer.empty[Batch]
  // task counters of the traced pass
  var tasks, inputRows, shufReadBytes, shufRecords = 0L
  var fetchWaitMs, spillDisk, spillMem, taskMs = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); batches.clear()
    tasks = 0; inputRows = 0; shufReadBytes = 0; shufRecords = 0
    fetchWaitMs = 0; spillDisk = 0; spillMem = 0; taskMs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, Stage(i.stageId, -1L, -1L))
    s.start = i.submissionTime.getOrElse(-1L)
    s.end = i.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (tracing) synchronized {
        stages.getOrElseUpdate(e.stageId, Stage(e.stageId, -1L, -1L))
          .tasks += e.taskInfo.duration
        tasks += 1
        taskMs += m.executorRunTime
        inputRows += m.inputMetrics.recordsRead
        shufReadBytes += m.shuffleReadMetrics.totalBytesRead
        shufRecords += m.shuffleReadMetrics.recordsRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillDisk += m.diskBytesSpilled
        spillMem += m.memoryBytesSpilled
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracing) Recorder.this.synchronized {
        val p = e.progress
        batches += Batch(Option(p.name).getOrElse(p.id.toString), p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum)
      }
  }
}

/** Closed-loop driver: one client runs a workload's keys one after
  * another, in the given order, and times each key as delivered
  * (construct + plan + execute of the whole physical plan). */
object Harness {
  final case class Conf(sfDir: String, keys: Seq[String], seconds: Double,
      trace: Boolean, cores: Int, setups: Int, settle: Int, minPasses: Int, out: Path,
      indexRoots: Seq[Path], scratch: Path, sparkConf: Map[String, String])

  final case class KeyTime(key: String, construct: Double, plan: Double,
      execute: Double, error: Option[String]) {
    def delivered: Double = construct + plan + execute
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("sf"), m("keys").split(",").toSeq, m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("setups").toInt, m("settle").toInt,
      m("min-passes").toInt, Paths.get(m("out")),
      m("index-roots").split(",").toSeq.map(Paths.get(_)), Paths.get(m("scratch")),
      m.get("spark-conf").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
  }

  private def now(): Long = System.currentTimeMillis()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.Tmp.dir("wh").toString)
      .config("spark.local.dir", graft.Tmp.dir("local").toString)
      .config(c.sparkConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }

  /** bytes under `p`; files that vanish mid-walk count as 0 */
  private def treeBytes(p: Path): Long =
    try {
      val w = Files.walk(p)
      try w.iterator().asScala.map { f =>
        try if (Files.isRegularFile(f)) Files.size(f) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      finally w.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => 0L }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def stealMs(): Long = {
    val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
      .linesIterator.next().trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong * 10L else 0L
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private val mb = 1048576.0
  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Start a memory window: collect, so the window starts from live data
    * only, then reset the heap pools' peaks and the process's resident
    * high-water mark (writing 5 to clear_refs, Linux 4.0 and later). */
  private def startMemWindow(): Unit = {
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
  }

  /** (peak heap in use, peak resident memory outside the heap) in MB
    * since the window started. The heap is fixed and pre-touched, so it
    * is resident as a whole; what the process holds beyond it is
    * off-heap memory. */
  private def memWindowMb(): (Double, Double) = {
    val heap = heapPools.map(_.getPeakUsage.getUsed).sum / mb
    val committed = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getCommitted / mb
    (heap, math.max(0.0, vmHwmMb() - committed))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val fns = c.keys.map(k => k -> SparkEntry.queries.getOrElse(k,
      throw new IllegalArgumentException(s"unknown key $k")))
    Files.createDirectories(c.out)
    val rec = new Recorder
    val spans = ArrayBuffer.empty[Span]
    var nextId = 0L
    def span(parent: Long, pass: Int, name: String, start: Long, end: Long): Long = {
      nextId += 1; spans += Span(nextId, parent, pass, name, start, end); nextId
    }

    // what the last key left behind, for the traced passes' sampler
    var lastPlan: Option[SparkPlan] = None
    var lastPhases: Seq[(String, Long, Long)] = Nil

    /** One pass over every key, cold: no memo entries, nothing cached.
      * `sink` delivers the result (noop for timed passes, parquet for
      * the passes the correctness check reads); `sample` runs after
      * each key, outside its timed phases. */
    def pass(spark: SparkSession, sink: (String, DataFrame) => Unit,
        sample: String => Unit): Seq[KeyTime] = {
      SessionMemo.clear(spark)
      spark.catalog.clearCache()
      fns.map { case (k, fn) =>
        val t0 = System.nanoTime(); val m0 = now()
        var t1, t2 = -1L; var m1, m2 = -1L
        lastPlan = None
        val err = try {
          val df = fn(spark, c.sfDir)
          t1 = System.nanoTime(); m1 = now()
          lastPlan = Some(df.queryExecution.executedPlan)
          t2 = System.nanoTime(); m2 = now()
          sink(k, df)
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        val t3 = System.nanoTime(); val m3 = now()
        // a key that threw charges the rest of its time to the phase it died in
        if (t1 < 0) { t1 = t3; m1 = m3 }
        if (t2 < 0) { t2 = t3; m2 = m3 }
        lastPhases = Seq(("construct", m0, m1), ("plan", m1, m2), ("execute", m2, m3))
        sample(k)
        KeyTime(k, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, err)
      }
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    def parquetTo(dir: String): (String, DataFrame) => Unit =
      (k, df) => df.write.mode("overwrite").parquet(s"${c.out}/$dir/$k")
    val noSample: String => Unit = _ => ()

    // ---- set-up: session, function registration, index builds (the
    // index roots are emptied so each set-up rebuilds them inside its
    // warm-up pass) and the warm-up pass, repeated; the last session is
    // kept. Each warm-up writes its results as parquet (warm<i>/<key>),
    // which the correctness check reads.
    var spark: SparkSession = null
    // the first error of each key, and every failing untimed delivery
    val warmErrors = scala.collection.mutable.Map.empty[String, String]
    var warmFailures = 0
    def countErrors(keys: Seq[KeyTime]): Unit =
      keys.foreach(k => k.error.foreach { e => warmFailures += 1; warmErrors.getOrElseUpdate(k.key, e) })
    val setupS = (1 to c.setups).map { i =>
      if (spark != null) spark.stop()
      c.indexRoots.foreach(deleteTree)
      val t0 = System.nanoTime()
      spark = session(c)
      countErrors(pass(spark, parquetTo(s"warm$i"), noSample))
      secs(t0)
    }
    // untimed noop passes on the kept session: the JIT is still warming
    // after the set-ups, and the first noop passes run 10-20% slower
    // than later ones, which would skew the median of the few timed
    // passes
    (1 to c.settle).foreach(_ => countErrors(pass(spark, noop, noSample)))
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.streams)

    // ---- timed passes ------------------------------------------------
    final case class PassResult(traced: Boolean, wall: Double, keys: Seq[KeyTime],
        shuffleWriteMb: Double, gcS: Double, stealS: Double, heapMb: Double,
        offHeapMb: Double, layers: Map[String, Double])
    val results = ArrayBuffer.empty[PassResult]
    val tStart = System.nanoTime()
    var passNo = 0
    while (secs(tStart) < c.seconds || results.size < c.minPasses) {
      passNo += 1
      // in a traced run, every other pass runs untraced: the gap between
      // the two medians is the tracing overhead
      val traced = c.trace && passNo % 2 == 1
      GraftSparkHooks.drainListenerBus(spark.sparkContext)
      rec.reset()
      rec.tracing = traced
      val sw0 = rec.shuffleWriteBytes.get()
      startMemWindow()
      val gc0 = gcMs(); val st0 = stealMs()
      val phases = ArrayBuffer.empty[(String, String, Long, Long)] // key, phase, start, end
      val plans = ArrayBuffer.empty[(Int, Int, Long)] // exchanges, sorts, scanned file bytes per key
      var memoPeak, storagePeak, scratchPeak = 0L
      val sample: String => Unit = { k =>
        lastPhases.foreach { case (ph, a, b) => phases += ((k, ph, a, b)) }
        val nodes = lastPlan.toSeq.flatMap(planNodes)
        plans += ((nodes.count(_.isInstanceOf[Exchange]), nodes.count(_.isInstanceOf[SortExec]),
          nodes.collect { case f: FileSourceScanExec => f.relation.sizeInBytes }.sum))
        memoPeak = math.max(memoPeak, SessionMemo.memoOwnedBytes(spark))
        storagePeak = math.max(storagePeak, SessionMemo.storageBytes(spark))
        scratchPeak = math.max(scratchPeak, treeBytes(c.scratch))
      }
      val m0 = now(); val t0 = System.nanoTime()
      val keys = pass(spark, noop, if (traced) sample else noSample)
      val wall = secs(t0); val m1 = now()
      GraftSparkHooks.drainListenerBus(spark.sparkContext)
      rec.tracing = false
      val swMb = (rec.shuffleWriteBytes.get() - sw0) / 1048576.0
      val gcS = (gcMs() - gc0) / 1000.0
      val stealS = (stealMs() - st0) / 1000.0
      val (heapMb, offHeapMb) = memWindowMb()
      val layers = if (!traced) Map.empty[String, Double] else rec.synchronized {
        val passSpan = span(0L, passNo, "pass", m0, m1)
        // key and phase spans; jobs and batches are attributed to the
        // phase whose interval holds their start time
        val phaseSpans = keys.flatMap { kt =>
          val ps = phases.filter(_._1 == kt.key)
          if (ps.isEmpty) Nil
          else {
            val ks = span(passSpan, passNo, s"key:${kt.key}", ps.map(_._3).min, ps.map(_._4).max)
            ps.map { case (_, ph, a, b) => (ph, span(ks, passNo, ph, a, b), a, b) }
          }
        }
        def owner(t: Long): Option[(String, Long, Long, Long)] =
          phaseSpans.find { case (_, _, a, b) => t >= a && t <= b }
            .orElse(phaseSpans.filter(_._3 <= t).lastOption)
        val jobPhase = rec.jobs.toSeq.map { j =>
          val o = owner(j.start)
          val end = if (j.end < 0) m1 else j.end
          val js = span(o.map(_._2).getOrElse(passSpan), passNo, s"job:${j.id}", j.start, end)
          j.stages.foreach { sid =>
            rec.stages.get(sid).filter(_.start >= 0).foreach { s =>
              span(js, passNo, s"stage:${s.id}", s.start, s.end)
            }
          }
          (o.map(_._1).getOrElse("pass"), j.start, end)
        }
        rec.batches.foreach { b =>
          val o = owner(b.start)
          span(o.map(_._2).getOrElse(passSpan), passNo, s"batch:${b.query}#${b.id}",
            b.start, b.start + b.durations.getOrElse("triggerExecution", 0L))
        }
        // self time of construction: its span minus the part its jobs cover
        val constructSelf = phaseSpans.filter(_._1 == "construct").map { case (_, _, a, b) =>
          val ivs = jobPhase.map { case (_, s, e) => (math.max(s, a), math.min(e, b)) }
            .filter { case (s, e) => e > s }.sortBy(_._1)
          var covered = 0L; var cur = a
          ivs.foreach { case (s, e) => if (e > cur) { covered += e - math.max(s, cur); cur = e } }
          (b - a - covered) / 1000.0
        }.sum
        val sum = (ph: String) => keys.map(k => ph match {
          case "construct" => k.construct; case "plan" => k.plan; case _ => k.execute }).sum
        val skew = rec.stages.values.filter(_.tasks.size >= 2).map { s =>
          val m = median(s.tasks.map(_.toDouble).toSeq)
          if (m > 0) s.tasks.max / m else 1.0
        }
        val trig = rec.batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
        val fam = keys.groupBy(_.key.takeWhile(_ != '_')).map { case (f, ks) =>
          s"family.$f.delivered_s" -> ks.map(_.delivered).sum }
        Map(
          "queries.construct_s" -> sum("construct"),
          "queries.construct_jobs" -> jobPhase.count(_._1 == "construct").toDouble,
          "queries.construct_self_s" -> constructSelf,
          "plans.plan_s" -> sum("plan"),
          "plans.exchanges" -> plans.map(_._1).sum.toDouble,
          "plans.sorts" -> plans.map(_._2).sum.toDouble,
          "exec.exec_s" -> sum("execute"),
          "exec.jobs" -> rec.jobs.size.toDouble,
          "exec.stages" -> rec.stages.size.toDouble,
          "exec.tasks" -> rec.tasks.toDouble,
          "exec.task_s" -> rec.taskMs / 1000.0,
          "exec.core_util" -> rec.taskMs / 1000.0 / (wall * c.cores),
          "exec.stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
          // the files under the plans' scans: the tasks' bytesRead misses
          // parquet reads that do not run on the task thread
          "scan.input_mb" -> plans.map(_._3).sum / mb,
          "scan.input_rows" -> rec.inputRows.toDouble,
          "shuffle.read_mb" -> rec.shufReadBytes / mb,
          "shuffle.records" -> rec.shufRecords.toDouble,
          "shuffle.fetch_wait_s" -> rec.fetchWaitMs / 1000.0,
          "spill.disk_mb" -> rec.spillDisk / mb,
          "spill.mem_mb" -> rec.spillMem / mb,
          "memo.owned_peak_mb" -> memoPeak / mb,
          "memo.storage_peak_mb" -> storagePeak / mb,
          "tmp.scratch_peak_mb" -> scratchPeak / mb,
          "streaming.batches" -> rec.batches.size.toDouble,
          "streaming.batch_ms_p50" -> median(trig.toSeq),
          "streaming.trigger_s" -> trig.sum / 1000.0,
          "streaming.wal_s" -> rec.batches.map(b =>
            b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)).sum / 1000.0,
          "streaming.input_rows" -> rec.batches.map(_.inputRows).sum.toDouble,
          "streaming.state_rows" -> rec.batches.map(_.stateRows).sum.toDouble,
          "jvm.gc_s" -> gcS,
          "jvm.heap_peak_mb" -> heapMb,
          "jvm.offheap_peak_mb" -> offHeapMb,
          "host.steal_s" -> stealS,
        ) ++ fam
      }
      results += PassResult(traced, wall, keys, swMb, gcS, stealS, heapMb, offHeapMb, layers)
    }

    spark.stop()
    val spanFile = c.out.resolve("spans.jsonl")
    val om = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(spanFile, spans.map(om.writeValueAsString(_)).asJava)
    val record = Map(
      "setup_s" -> setupS,
      "passes" -> results.map(r => Map(
        "traced" -> r.traced, "wall_s" -> r.wall, "shuffle_write_mb" -> r.shuffleWriteMb,
        "gc_s" -> r.gcS, "steal_s" -> r.stealS,
        "heap_peak_mb" -> r.heapMb, "offheap_peak_mb" -> r.offHeapMb,
        "keys" -> r.keys.map(k => Map("key" -> k.key, "construct_s" -> k.construct,
          "plan_s" -> k.plan, "execute_s" -> k.execute, "error" -> k.error.orNull)),
        "layers" -> r.layers)),
      "warm_errors" -> warmErrors.toMap,
      "warm_failures" -> warmFailures,
      "oracle_sql" -> SparkEntry.oracleSql)
    Files.writeString(c.out.resolve("harness.json"), om.writeValueAsString(record))
  }
}
