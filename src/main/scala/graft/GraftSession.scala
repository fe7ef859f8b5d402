package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a multi-executor cluster: every knob
  * here is chosen so the SAME plan shapes (broadcast joins, partial
  * aggregation, AQE coalescing / skew splitting) appear at cluster
  * scale. `shufflePartitions` tracks local cores here; on a real
  * cluster it would be ~2-3x total executor cores (or left to AQE).
  */
object GraftSession {

  /** FAIR-scheduler allocation file, written once per JVM: queries
    * (the `default` pool) hold a 1000:1 weight plus a full minShare
    * over background work (the `fill` pool — Memo.fill's lanes tag
    * themselves into it via a thread-local, see [[Memo.fill]]). On a
    * shared cluster this is the standard interactive-vs-batch pool
    * split; locally it keeps cache warmup from inflating live query
    * latency — warmup soaks idle task slots (toy-SF queries are
    * latency-bound, far from saturating local[N]) instead of racing
    * the foreground for them. Scheduling only — every job still runs
    * identical plans, and the fill is still fully executed and timed.
    */
  private lazy val fairPoolsFile: String = {
    val xml =
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="default">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>1000</weight>
        |    <minShare>2147483647</minShare>
        |  </pool>
        |  <pool name="fill">
        |    <!-- FAIR WITHIN the pool (r13): the fill phase runs ~14
        |         independent lanes, each a chain of small-stage jobs.
        |         Under FIFO, every lane's next job queued behind the
        |         whole pool's backlog, serializing the phase — the
        |         sf10 fill wall measured ≈ the SUM of the lanes
        |         (387 s) with the store-lifecycle chain stretched
        |         11x its solo wall. Round-robin sharing lets every
        |         lane progress concurrently; queries still preempt
        |         the whole pool 1000:1. -->
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin
    val p = java.nio.file.Files.createTempFile("graft_fair_pools", ".xml")
    java.nio.file.Files.writeString(p, xml)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** SCALE-ADAPTIVE initial shuffle width (r13, guide §2.2/§2.5): a
    * flat `shuffle.partitions = cores` is a local-mode constant — at
    * 100× the bench SF a 60M-row distinct lands ~2M rows in each of
    * 32 reducers, the per-task hash state outgrows its
    * execution-memory share and the stage spills (the unattributed
    * 122 GB sf10 disk spill of round 12). Exchanges therefore START
    * at a width DERIVED FROM THE INPUT BYTES (~8 MB of source data
    * per initial partition, floored at the core count) and AQE's
    * size-based coalescing picks the final reducer count per
    * exchange. A flat "always wide" constant is NOT used: measured at
    * sf0.1, a 1024-wide start added ~30 s of pure task-launch / AQE
    * bookkeeping across the 240-query suite for shuffles that
    * coalesce to a handful of partitions anyway — the width must
    * track data volume in BOTH directions. */
  def initialPartitionsFor(dir: String, cores: Int): Int = {
    val bytes =
      try {
        val root = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.isDirectory(root)) 0L
        else {
          val s = java.nio.file.Files.walk(root)
          try s.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally s.close()
        }
      } catch { case _: Throwable => 0L }
    math.min(8192L, math.max(cores.toLong, bytes / (8L << 20))).toInt
  }

  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32,
              initialPartitions: Int = 0): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // see [[initialPartitionsFor]]; parallelismFirst stays
      // default-true so toy-SF shuffles coalesce toward cores, not
      // toward one giant advisory-sized partition
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(shufflePartitions, initialPartitions).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // interactive queries preempt background cache warmup for task
      // slots (see fairPoolsFile) — cluster-standard pool split
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairPoolsFile)
      // local mode: shuffle files hit page cache, so compression only
      // burns CPU; on a network-shuffling cluster leave these on
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // μs timestamps in written parquet (matches the DuckDB oracle's
      // precision; avoids legacy INT96).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's reader
      // rejects; read as raw Long and let Tables.events convert to μs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide-aggregate plans (the 64-lane simhash bit votes) must stay
      // inside whole-stage codegen: the default maxFields=100 kicks
      // them out to interpreted per-row evaluation (~10-30× slower on
      // the hot map stage). 200 covers every plan in this engine.
      .config("spark.sql.codegen.maxFields", "200")
      // partitioned-table listing: above this many child dirs Spark
      // dispatches a DISTRIBUTED listing job — right for object
      // storage on a real cluster, pure job-launch overhead on a
      // local filesystem (the feature store's gen × bucket layout
      // crosses the default 32 every fold). Locally the driver lists
      // thousands of dirs in milliseconds; on a cluster deployment
      // lower this back toward the default.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "8192")
      // native expressions (cosine_sim) available in SQL
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // fork-free permission setting on the local filesystem: without
      // libhadoop the stock one forks `chmod` for every file, `.crc`
      // and directory it creates (3.4 ms per mkdirs, 7.0 ms per
      // create, against 0.02 ms through java.nio) — see
      // [[GraftRawLocalFileSystem]]. Same bits, checksums and layout;
      // a host with libhadoop gains nothing and loses nothing.
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[GraftLocalFs].getName)

  /** Session tuned for a concrete data dir: the initial shuffle
    * width derives from the dir's byte size (the runtime mains'
    * entry point — Bench/Verify/tools). */
  def forData(master: String, shufflePartitions: Int,
              dir: String): SparkSession = {
    val cores = math.max(1, shufflePartitions)
    get(master, shufflePartitions, initialPartitionsFor(dir, cores))
  }

  def get(master: String = "local[*]", shufflePartitions: Int = 32,
          initialPartitions: Int = 0): SparkSession = {
    val s = builder(master, shufflePartitions, initialPartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Hadoop's FileSystem cache key ignores the conf: a stock `file:`
    // filesystem cached earlier in this JVM silently wins over
    // fs.file.impl, and every write forks `chmod` again
    val localFs = new org.apache.hadoop.fs.Path("file:/")
      .getFileSystem(s.sparkContext.hadoopConfiguration).getClass
    if (localFs != classOf[GraftLocalFileSystem])
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"file: filesystem is ${localFs.getName}, not " +
          s"${classOf[GraftLocalFileSystem].getName} (one cached before " +
          "this session won): local writes may fork chmod per file")
    // Every partition-less window in this engine is bounded by
    // construction (post-limit(√N) ANN seed ranking, ≤32-row block
    // prefix maxima, calendar-bounded run merges — see §6 of
    // SURVEY.md), so WindowExec's "No Partition Defined" warning is
    // pure noise here and was 90% of the bench log tail. Silence that
    // one logger rather than partitionBy(lit(1))-ing every bounded
    // site: the literal would add a pointless hash exchange of the
    // same single partition and hide GENUINE unbounded-window
    // mistakes from future plans' explain() output.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // NOTE: the localCheckpoint-unpersist WARN from MapPartitionsRDD
    // is silenced ONLY inside Checkpoints.release (scoped
    // lower/restore around the loop) — NOT globally here, so a
    // Memo.clear racing an in-flight query over a checkpointed plan
    // still logs its diagnosable "cannot be recomputed after
    // unpersisting" warning (round-7 ADVICE).
    s
  }
}
