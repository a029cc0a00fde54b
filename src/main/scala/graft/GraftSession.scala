package graft

import org.apache.spark.sql.{classic, SparkSession}

/** The library's recommended SparkSession configuration, in one
  * place — what a user of the engine starts from instead of
  * rediscovering the settings the operators assume — and the ONLY
  * writer of session conf in the engine. Settings come in three kinds:
  *
  *  - Built: [[builder]] sizes `spark.sql.shuffle.partitions` to the
  *    executor-core count (not the 200 default; on a real cluster
  *    2-3x total cores), pins the UTC session timezone (the temporal
  *    operators and their oracles render timestamps as civil
  *    strings), keeps AQE on (runtime join-strategy changes, skew
  *    splitting and post-shuffle coalescing are assumed by the
  *    operator plans) and turns the UI off. It also turns
  *    `spark.sql.icu.caseMappings.enabled` off: with it on, the first
  *    non-ASCII `upper` (the postcode normalizer's) runs ICU's
  *    case-table initializer, 1.5–2 s of every CLI launch. Off, Spark
  *    upper-cases non-ASCII strings with `String.toUpperCase()`, which
  *    follows the JVM's default locale: [[Cli]] sets `Locale.ROOT`, so
  *    its output matches JavaScript's locale-free `toUpperCase`; a
  *    library caller's case mapping follows its own JVM's default
  *    locale (under `tr`, `i` in a non-ASCII string maps to `İ`).
  *  - Installed: [[install]] holds the idempotent settings a query
  *    needs on any session — `nanosAsLong` (events.ts may be
  *    TIMESTAMP(NANOS)), the `graft` DSv2 catalog and v2 bucketing
  *    (storage-partitioned joins). The builder applies them up front;
  *    the queries that need them call `install` too, which writes
  *    nothing on a session built here and still configures a foreign
  *    one (an external driver's).
  *  - Scoped: [[withConf]] holds a setting only for a body and then
  *    restores the prior one — for settings that must NOT leak to
  *    other queries: the streaming width and the RocksDB state store
  *    (a stream captures both at `start()`), and AQE off inside the
  *    graph fixpoint loops ([[AqeOff]]).
  *
  * The mains ([[Verify]], [[Bench]], [[Profile]], [[Cli]]) and the
  * test session all build through this factory, so tests, gates and
  * users run the same configuration.
  */
object GraftSession {

  /** RAM-backed scratch root when the platform has one (/dev/shm on
    * Linux), else None. Micro-batch streaming fsyncs its offset log,
    * commit log and state-store deltas once per batch; on a
    * disk-backed /tmp those fsyncs are the dominant FIXED cost of
    * every bounded streaming gate (measured: the 25-query streaming
    * family spent ~98s min-of-2 at sf0.1 with /tmp on ext4). On a
    * real cluster this is the "give the state store and shuffle a
    * fast local NVMe" deployment rule; locally tmpfs is that disk. */
  private lazy val shmRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (!sys.env.get("GRAFT_NO_SHM").contains("1") &&
      java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      Some(shm)
    else None
  }

  /** Per-call scratch dir for streaming checkpoints, staged stream
    * inputs and file-sink outputs — tmpfs-backed when available.
    * Callers sweep it in their finally blocks ([[sweep]]);
    * correctness-neutral either way (paths are fresh temp dirs). */
  def scratchDir(prefix: String): java.nio.file.Path =
    shmRoot match {
      case Some(root) => java.nio.file.Files.createTempDirectory(root, prefix)
      case None       => java.nio.file.Files.createTempDirectory(prefix)
    }

  /** Root for the library's per-application scratch warehouse
    * (DSv2 catalog tables, compaction/vacuum/retention fixtures,
    * quarantine CSVs, the exactly-once sink's versioned targets) —
    * tmpfs-backed when available, /tmp otherwise. Same rationale as
    * [[scratchDir]]: these tables are rewritten from the source
    * parquet on every (session, sfDir) change, so placement is
    * correctness-neutral; on a cluster this is the job's scratch
    * bucket / local SSD staging dir. */
  def warehouseRoot(s: SparkSession): String = {
    val root = shmRoot.fold("/tmp")(_.toString) +
      s"/graft_warehouse_${s.sparkContext.applicationId}"
    // sweep at JVM exit: per-app scratch tables otherwise accumulate
    // across runs (on tmpfs that is held RAM, not just disk clutter)
    registerExitSweep(root)
    root
  }

  private val exitSweeps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerExitSweep(path: String): Unit =
    if (exitSweeps.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try sweep(java.nio.file.Paths.get(path)) catch { case _: Throwable => () }))

  /** Recursive delete of a scratch tree (children before parents). */
  def sweep(base: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(base)) {
      val walked = java.nio.file.Files.walk(base)
      try walked.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  /** Builder preloaded with the recommended configuration; callers
    * override as needed before `getOrCreate()`. It is the classic
    * (in-process) session's builder: `SparkSession.builder()` would
    * first look its implementation up through Scala runtime reflection,
    * whose universe costs about a second of every CLI launch. */
  def builder(master: String, shufflePartitions: Int): classic.SparkSession.Builder = {
    val b = Installed.foldLeft(classic.SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
    // shuffle blocks, spills and RocksDB state-store working dirs on
    // the fast local medium (the cluster deployment rule is NVMe
    // spark.local.dir; locally that is tmpfs). Spark sweeps its
    // blockmgr-*/spark-* subdirs on session stop.
    shmRoot.fold(b)(root => b.config("spark.local.dir", root.toString))
  }

  private val Installed = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog",
    // storage-partitioned joins over KGP-reporting DSv2 scans (the
    // bucketed range source; any clustered table a deployment
    // mounts): planning-only, inert for every other source
    "spark.sql.sources.v2.bucketing.enabled" -> "true")

  /** Applies the installed settings to `s`, writing a key only when
    * its value differs — a no-op on a session [[builder]] made. */
  def install(s: SparkSession): Unit =
    Installed.foreach { case (k, v) => if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v) }

  /** AQE off, for [[withConf]] around the graph fixpoint loop bodies.
    * Inside them every join reads localCheckpoint'ed frames pinned by
    * an explicit `repartition(p, key)`, so no exchange feeds a join
    * and AQE has nothing to re-optimize; what it still costs is one
    * scheduled stage-job per exchange per round (sf0.1 JobCensus:
    * hits_converge 134->32 jobs, kcore 88->29, pagerank 37->12). The
    * corpus-scale memo builds stay outside the scope, and so does
    * connected components, whose consumers ran slower with it. */
  val AqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  // (session, key) -> (held value, prior explicit value, depth)
  private val scopes =
    scala.collection.mutable.Map[(SparkSession, String), (String, Option[String], Int)]()

  /** Runs `body` with `key` set to `value` on `s`, then restores the
    * prior setting (explicit value or unset). Reentrant and
    * thread-safe: the outermost scope on a (session, key) saves and
    * sets, nested or overlapping scopes asking for the same value only
    * count, and the last one out restores; a scope asking for a
    * different value while one is held throws. Bodies run
    * concurrently — a query planned on the session by a thread outside
    * any scope still sees the held value. */
  def withConf[T](s: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    scopes.synchronized {
      scopes.get((s, key)) match {
        case Some((held, prior, depth)) =>
          if (held != value) throw new IllegalStateException(
            s"$key=$value requested while a scope holds $key=$held")
          scopes((s, key)) = (held, prior, depth + 1)
        case None =>
          scopes((s, key)) = (value, s.conf.getAll.get(key), 1) // explicit only, not a default
          s.conf.set(key, value)
      }
    }
    try body
    finally scopes.synchronized {
      val (held, prior, depth) = scopes((s, key))
      if (depth > 1) scopes((s, key)) = (held, prior, depth - 1)
      else {
        scopes.remove((s, key))
        prior.fold(s.conf.unset(key))(s.conf.set(key, _))
      }
    }
  }

  /** Executor threads for the mains' local session: the one reader of
    * `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Runs `body` and returns its result with the session conf keys it
    * left changed (set, unset or given another explicit value), sorted.
    * A query must leave the conf as it found it ([[withConf]] scopes). */
  def confDrift[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val before = s.conf.getAll
    val out = body
    val after = s.conf.getAll
    (out, (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k)).toSeq.sorted)
  }

  /** Local session on `cpus` threads with matching shuffle width. */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
