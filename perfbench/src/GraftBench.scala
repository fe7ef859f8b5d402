package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.{GraftSession, Memo, SparkEntry, Tables}
import graft.operators.{DedupFeatureStore, ReferencePipeline, RunLog}

/** Benchmark program: one JVM, one client, closed loop.
  *
  * Calls graft's public API and times each layer from outside:
  * session start (`GraftSession.forData`), table resolution
  * (`Tables.table`), `Memo.fill`, the `SparkEntry.queries` builders
  * (operators), Catalyst planning (forcing `queryExecution.executedPlan`),
  * the action (exec), the `DedupFeatureStore` lifecycle (store) and
  * `ReferencePipeline.run` + `RunLog.successReport` (upsert).
  *
  * Invoked by `run.py`, which generates the inputs and checks the
  * outputs, as `graftbench.GraftBench key=value...` with the keys
  * workload, data, work, seed, seconds, trace, cores and launched
  * (the wall-clock millis at which run.py started the JVM). Writes
  * `<work>/result.json`, the first result of every query to
  * `<work>/results/<query>` (parquet) and the oracle SQL of the
  * workload's queries to `<work>/oracle_sql.json`.
  */
object GraftBench {

  /** An operation still running after this long counts as failed. */
  val OpTimeoutS = 60L
  /** `registry` runs every RegistryStride-th registered query in name
    * order: a fixed sample across every operator family, small enough
    * that one pass (fill included) fits the run's time budget. */
  val RegistryStride = 10

  final case class Conf(workload: String, data: String, work: String,
                        seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, launchedMs: Long)

  /** One timed operation. `parts` holds the durations (ms) of the layer
    * calls inside it; `digest` is an order-independent fingerprint of
    * its whole result. */
  final case class Op(id: Int, pass: Int, kind: String, name: String,
                      ms: Double, ok: Boolean, err: String,
                      parts: Map[String, Double], digest: String, rows: Long,
                      extra: Map[String, String])

  /** What an operation reports once its timer has stopped. */
  final case class Outcome(digest: String = "", rows: Long = 0L,
                           extra: Map[String, String] = Map.empty)

  /** A layer call (or a whole operation, with parent ""). Wall-clock
    * millis attribute Spark jobs; nanos give durations. */
  final case class Span(op: Int, name: String, parent: String,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long)

  // ------------------------------------------------------------ trace

  /** Spark job, stage and task counters, kept per job until the run
    * ends and then attributed to the layer call that submitted the
    * job (see [[byLayer]]). Records only while `on`. */
  final class LayerListener extends SparkListener {
    @volatile var on = false
    final class StageAcc {
      val tasks, runMs, cpuNs, gcMs, inBytes, shufW, shufR, spill, outBytes =
        new LongAdder
    }
    final case class Job(timeMs: Long, group: String, stages: Seq[Int])
    private val jobs = new ConcurrentLinkedQueue[Job]
    private val stages = new ConcurrentHashMap[Int, StageAcc]

    override def onJobStart(j: SparkListenerJobStart): Unit = if (on) {
      val g = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.add(Job(j.time, g, j.stageIds))
      j.stageIds.foreach(stages.computeIfAbsent(_, _ => new StageAcc))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val a = stages.get(t.stageId)
      if (a != null && t.taskMetrics != null) {
        val m = t.taskMetrics
        a.tasks.increment()
        a.runMs.add(m.executorRunTime)
        a.cpuNs.add(m.executorCpuTime)
        a.gcMs.add(m.jvmGCTime)
        a.inBytes.add(m.inputMetrics.bytesRead)
        a.shufW.add(m.shuffleWriteMetrics.bytesWritten)
        a.shufR.add(m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead)
        a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.outBytes.add(m.outputMetrics.bytesWritten)
      }
    }

    /** Counters summed per layer. A job belongs to the layer call whose
      * span contains its submission time; calls never overlap (one
      * operation at a time) and layer spans nest only inside operation
      * spans. The job group the harness sets around each call is the
      * fallback: pool threads created before a call inherit no group or
      * a stale one, so the group alone would misattribute their jobs. */
    def byLayer(spans: Seq[Span]): Map[String, Map[String, Double]] = {
      val calls = spans.filter(_.parent.nonEmpty).sortBy(_.startMs).toArray
      def layerAt(t: Long): Option[String] = {
        var (lo, hi) = (0, calls.length) // first call starting after t
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (calls(mid).startMs <= t) lo = mid + 1 else hi = mid
        }
        Option.when(lo > 0 && calls(lo - 1).endMs >= t)(calls(lo - 1).name)
      }
      val acc = mutable.Map[String, Array[Double]]()
      jobs.asScala.foreach { j =>
        val layer = layerAt(j.timeMs).getOrElse(
          if (j.group.contains(':')) j.group.takeWhile(_ != ':') else "(none)")
        val v = acc.getOrElseUpdate(layer, new Array[Double](11))
        v(0) += 1; v(1) += j.stages.size
        j.stages.flatMap(s => Option(stages.get(s))).foreach { a =>
          v(2) += a.tasks.sum; v(3) += a.runMs.sum / 1e3; v(4) += a.cpuNs.sum / 1e9
          v(5) += a.gcMs.sum / 1e3; v(6) += a.inBytes.sum / 1e6
          v(7) += a.shufW.sum / 1e6; v(8) += a.shufR.sum / 1e6
          v(9) += a.spill.sum / 1e6; v(10) += a.outBytes.sum / 1e6
        }
      }
      val keys = Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
        "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "out_mb")
      acc.map { case (l, v) => l -> keys.zip(v).toMap }.toMap
    }
  }

  // ---------------------------------------------------------- harness

  final class Harness(val conf: Conf) {
    val listener = new LayerListener
    val ops = mutable.ArrayBuffer[Op]()
    private val spanBuf = new ConcurrentLinkedQueue[Span]
    var spark: SparkSession = _
    private var nextId = 0
    /** Seconds of set-up steps made outside [[setup]]. */
    val setupExtra = mutable.Map[String, Double]()
    /** Wall-clock millis at which the first timed operation started. */
    var firstOpMs = 0L
    private val parts = new ThreadLocal[mutable.Map[String, Double]]
    private val worker = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graftbench-op"); t.setDaemon(true); t })

    def spans: Seq[Span] = spanBuf.asScala.toSeq

    private def span(op: Int, name: String, parent: String, t0: Long, m0: Long): Unit =
      if (conf.trace)
        spanBuf.add(Span(op, name, parent, t0, System.nanoTime(), m0,
          System.currentTimeMillis()))

    /** One layer call inside operation `op`, under job group
      * `<layer>:<op>`; its duration adds to the operation's parts. */
    def layer[T](op: Int, name: String, parent: String)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$name:$op", name, interruptOnCancel = true)
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        parts.get.updateWith(name)(p => Some(p.getOrElse(0.0) + ms))
        span(op, name, parent, t0, m0)
        sc.clearJobGroup()
      }
    }

    /** Run one operation on the worker thread with a timeout. `body` is
      * timed; `outcome` (digests, plan statistics) runs after the timer
      * stops. A throw or a timeout is a failed operation, never a
      * timing. */
    def timed[R](pass: Int, kind: String, name: String)(body: Int => R)
                (outcome: R => Outcome): Op = {
      nextId += 1
      val id = nextId
      if (firstOpMs == 0L) firstOpMs = System.currentTimeMillis()
      val fut = worker.submit(() => {
        parts.set(mutable.Map.empty)
        val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
        val r = body(id)
        val ms = (System.nanoTime() - t0) / 1e6
        span(id, kind, "", t0, m0)
        (ms, parts.get.toMap, outcome(r))
      })
      val op = try {
        val (ms, p, o) = fut.get(OpTimeoutS, TimeUnit.SECONDS)
        Op(id, pass, kind, name, ms, ok = true, "", p, o.digest, o.rows, o.extra)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelAllJobs()
          fut.cancel(true)
          Op(id, pass, kind, name, OpTimeoutS * 1e3, ok = false,
            s"timeout after ${OpTimeoutS}s", Map.empty, "", 0L, Map.empty)
        case e: java.util.concurrent.ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Op(id, pass, kind, name, 0.0, ok = false,
            s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}",
            Map.empty, "", 0L, Map.empty)
      }
      ops += op
      op
    }

    def shutdown(): Unit = worker.shutdownNow()
  }

  /** Order-independent digest of a collected result: rows rendered,
    * sorted, hashed. Repeated executions must agree on it. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Physical operators of the final (post-AQE) plan. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  // ------------------------------------------------------------ setup

  /** The set-up: session, table resolution, warm-up and, for ingest,
    * the store's seed build (which is also its warm-up: ingest reads
    * none of the star-schema tables). Returns per-phase seconds. */
  def setup(h: Harness, storePath: String): Map[String, Double] = {
    val c = h.conf
    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (s, startS) = secs(GraftSession.forData(s"local[${c.cores}]", c.cores, c.data))
    h.spark = s
    s.sparkContext.addSparkListener(h.listener)
    val ingest = c.workload == "ingest"
    val (seedDocs, tablesS) = secs {
      if (ingest) Some(Tables.table(s, s"${c.data}/ingest", "seed_docs"))
      else {
        Tables.all.foreach(Tables.table(s, c.data, _))
        Tables.events(s, c.data)
        None
      }
    }
    val (_, warmS) = secs(if (!ingest) {
      import org.apache.spark.sql.functions._
      Tables.lineitem(s, c.data).agg(sum("l_quantity")).collect()
      Tables.events(s, c.data).agg(sum("value")).collect()
      Tables.documents(s, c.data).agg(sum(length(col("text")))).collect()
      Tables.embeddings(s, c.data).agg(sum(size(col("embedding")))).collect()
    })
    val (_, storeS) = secs(seedDocs.foreach(DedupFeatureStore.build(_, storePath)))
    Map("session" -> startS, "tables" -> tablesS, "warmup" -> warmS,
      "store_build" -> storeS)
  }

  // -------------------------------------------------------- workloads

  def registryNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % RegistryStride == 0 => n }

  /** One query: build (operators), force the physical plan (plans),
    * collect every row and column (exec). */
  def runQuery(h: Harness, pass: Int, name: String,
               kept: mutable.Map[String, DataFrame]): Op = {
    val c = h.conf
    val build = SparkEntry.queries(name)
    h.timed(pass, "query", name) { id =>
      val df = h.layer(id, "operators", "query")(build(h.spark, c.data))
      h.layer(id, "plans", "query")(df.queryExecution.executedPlan)
      (df, h.layer(id, "exec", "query")(df.collect()))
    } { case (df, rows) =>
      if (pass == 0) kept(name) = h.spark.createDataFrame(rows.toSeq.asJava, df.schema)
      val extra = if (!c.trace) Map.empty[String, String] else {
        val ph = df.queryExecution.tracker.phases
        def phase(n: String) =
          ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toString).getOrElse("0")
        val nodes = planNodes(df.queryExecution.executedPlan)
        def count[T](implicit t: scala.reflect.ClassTag[T]) =
          nodes.count(t.runtimeClass.isInstance(_)).toString
        Map("analysis_ms" -> phase("analysis"), "optimize_ms" -> phase("optimization"),
          "physical_ms" -> phase("planning"),
          "exchanges" -> count[ShuffleExchangeLike],
          "joins_smj" -> count[SortMergeJoinExec],
          "joins_bhj" -> count[BroadcastHashJoinExec])
      }
      Outcome(digest(rows), rows.length.toLong, extra)
    }
  }

  /** `Memo.fill` as its own step; no other operation runs beside it.
    * A fill that failed is reported in `extra` (run.py counts the step
    * failed). */
  def runFill(h: Harness, pass: Int): Op =
    h.timed(pass, "fill", "memo_fill") { id =>
      h.layer(id, "memo", "fill")(Memo.fill(h.spark, h.conf.data))
    } { fills =>
      val cachedMb = h.spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6
      val failed = fills.filter(_._2 < 0).map(_._1)
      Outcome(rows = fills.size.toLong, extra = Map(
        "busy_s" -> fills.map(f => math.abs(f._2)).sum.toString,
        "failed" -> failed.size.toString, "cached_mb" -> cachedMb.toString,
        "errors" -> failed.flatMap(n => Memo.fillErrors.get(n).map(e => s"$n: $e"))
          .mkString("; ")))
    }

  /** Passes of (fill, then every sampled query in seeded order) until
    * the time budget is spent; at least one pass. */
  def registryWorkload(h: Harness): Seq[Double] = {
    val c = h.conf
    val rnd = new scala.util.Random(c.seed)
    val walls = mutable.ArrayBuffer[Double]()
    val kept = mutable.Map[String, DataFrame]()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val p0 = System.nanoTime()
      if (pass > 0) Memo.clear(h.spark)
      runFill(h, pass)
      rnd.shuffle(registryNames).foreach(n => runQuery(h, pass, n, kept))
      walls += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    // after the timed phase: the first results, for the oracle check
    val pool = Executors.newFixedThreadPool(c.cores)
    try kept.toSeq.map { case (n, df) => pool.submit(new Runnable {
        def run(): Unit =
          df.coalesce(1).write.mode("overwrite").parquet(s"${c.work}/results/$n") })
      }.foreach(_.get())
    finally pool.shutdown()
    walls.toSeq
  }

  /** Passes of one ingest cycle (fold, verdict, pipeline run + report)
    * and a compaction, until the time budget is spent; at least one. */
  def ingestWorkload(h: Harness, store: DedupFeatureStore): Seq[Double] = {
    val c = h.conf
    val in = s"${c.data}/ingest"
    val cycles = Files.readString(Paths.get(s"$in/cycles.txt")).trim.toInt
    val (target, log) = (s"${c.work}/target", s"${c.work}/runlog")
    // set-up: land the window the first cycle's window overlaps
    val l0 = System.nanoTime()
    ReferencePipeline.run(h.spark, s"$in/window_prev", target, log)
    h.setupExtra("land_prev") = (System.nanoTime() - l0) / 1e9
    def verdicts(rows: Array[Row]) = Outcome(digest(rows), rows.length.toLong,
      Map("verdicts" -> rows.map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}")
        .sorted.mkString(";")))
    val walls = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var cyc = 0
    while (cyc < cycles && (cyc == 0 || (System.nanoTime() - t0) / 1e9 < c.seconds)) {
      val p0 = System.nanoTime()
      val gen = cyc + 1L
      h.timed(cyc, "fold", s"fold_$cyc") { id =>
        h.layer(id, "store", "fold") {
          store.fold(h.spark.read.parquet(s"$in/fold_$cyc.parquet"), gen).collect() }
      }(verdicts)
      h.timed(cyc, "verdict", s"verdict_$cyc") { id =>
        h.layer(id, "store", "verdict") {
          store.verdict(h.spark.read.parquet(s"$in/probe_$cyc.parquet"), gen + 1).collect() }
      }(verdicts)
      h.timed(cyc, "cycle", s"cycle_$cyc") { id =>
        val n = h.layer(id, "upsert", "cycle") {
          ReferencePipeline.run(h.spark, s"$in/window_$cyc", target, log) }
        (n, h.layer(id, "upsert", "cycle")(RunLog.successReport(h.spark, log).collect()))
      } { case (n, rep) =>
        Outcome(digest(rep), n, Map("inserted" -> n.toString,
          "report_runs" -> rep.map(_.getAs[Long]("total_runs")).sum.toString,
          "report_success" -> rep.map(_.getAs[Long]("successful_runs")).sum.toString))
      }
      h.timed(cyc, "compact", s"compact_$cyc") { id =>
        h.layer(id, "store", "compact")(store.compactGenerations(gen))
      }(_ => Outcome())
      walls += (System.nanoTime() - p0) / 1e9
      cyc += 1
    }
    walls.toSeq
  }

  // ----------------------------------------------------------- output

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def jobj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
  def jnums(m: Map[String, Double]): String = jobj(m.map { case (k, v) => k -> jnum(v) })
  def jstrs(m: Map[String, String]): String = jobj(m.map { case (k, v) => k -> jstr(v) })

  /** Highest heap occupancy left after a garbage collection, MB: the
    * peak retained heap, which VmHWM (sized by how far the heap grew)
    * shows only indirectly. */
  final class HeapAfterGc extends javax.management.NotificationListener {
    @volatile var peakMb = 0.0
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      n.getUserData match {
        case cd: javax.management.openmbean.CompositeData
            if n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION =>
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
          val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heap(k) => u.getUsed }.sum / 1e6
          synchronized { peakMb = math.max(peakMb, used) }
        case _ =>
      }
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
        case _ =>
      }
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val m = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mainMs = System.currentTimeMillis()
    val heapGc = new HeapAfterGc
    heapGc.install()
    val conf = Conf(m("workload"), m("data"), m("work"), m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("cores").toInt, m("launched").toLong)
    val h = new Harness(conf)
    val storePath = s"${conf.work}/store"
    val initS = {
      val t0 = System.nanoTime()
      if (conf.workload == "registry")
        Files.writeString(Paths.get(s"${conf.work}/oracle_sql.json"),
          registryNames.map(n => s"${jstr(n)}:${jstr(SparkEntry.oracleSql(n))}")
            .mkString("{", ",\n", "}"))
      (System.nanoTime() - t0) / 1e9
    }
    val phases = setup(h, storePath)
    h.listener.on = conf.trace
    val walls = conf.workload match {
      case "registry" => registryWorkload(h)
      case "ingest" => ingestWorkload(h, DedupFeatureStore.load(h.spark, storePath))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    org.apache.spark.GraftSparkBridge.drainListenerBus(h.spark.sparkContext, 10000L)
    val spans = h.spans
    val layers = h.listener.byLayer(spans)
    val ops = h.ops.map { o =>
      jobj(Map("id" -> o.id.toString, "pass" -> o.pass.toString, "kind" -> jstr(o.kind),
        "name" -> jstr(o.name), "ms" -> jnum(o.ms), "ok" -> o.ok.toString,
        "err" -> jstr(o.err), "parts" -> jnums(o.parts), "digest" -> jstr(o.digest),
        "rows" -> o.rows.toString, "extra" -> jstrs(o.extra)))
    }
    val spanRows = spans.map(s =>
      s"[${s.op},${jstr(s.name)},${jstr(s.parent)},${s.startNs},${s.endNs}]")
    val out = jobj(Map(
      "workload" -> jstr(conf.workload), "seed" -> conf.seed.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "setup" -> jnums(phases ++ h.setupExtra ++ Map("jvm_start" -> (mainMs - conf.launchedMs) / 1e3,
        "init" -> initS, "total" -> (h.firstOpMs - conf.launchedMs) / 1e3)),
      "pass_walls" -> walls.map(jnum).mkString("[", ",", "]"),
      "peak_rss_mb" -> jnum(vmHwmMb()), "heap_after_gc_peak_mb" -> jnum(heapGc.peakMb),
      "layers" -> jobj(layers.map { case (k, v) => k -> jnums(v) }),
      "ops" -> ops.mkString("[", ",\n", "]"),
      "spans" -> spanRows.mkString("[", ",\n", "]")))
    Files.writeString(Paths.get(s"${conf.work}/result.json"), out)
    h.shutdown()
    Memo.clear(h.spark)
    h.spark.stop()
  }
}
