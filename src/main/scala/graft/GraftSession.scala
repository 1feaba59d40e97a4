package graft

import org.apache.spark.sql.SparkSession

/** Centralized SparkSession construction for the engine.
  *
  * Local mode (`local[N]`) is one JVM with N executor threads; on a real
  * cluster the same builder settings apply per-session. Shuffle partitions
  * default to the local core count (not Spark's 200) and AQE is enabled so
  * joins/skew re-plan at runtime — the setting that actually matters at
  * 100 TB, where AQE coalesces the post-shuffle partitions the static
  * number gets wrong.
  */
object GraftSession extends org.apache.spark.internal.Logging {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Master override for cross-process validation legs: e.g.
    * SPARK_GRAFT_MASTER='local-cluster[2,2,1024]' runs the same mains
    * against real executor PROCESSES (separate JVMs, real serialization
    * and broadcast boundaries) — the cheapest stand-in for a cluster. */
  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** Auto-broadcast ceiling, DERIVED from executor memory (VERDICT r11
    * next #1): the threshold compares the SERIALIZED build side, but the
    * executor deserializes it into a LongToUnsafeRowMap at roughly
    * 10-20x the wire size — the round-11 local-cluster leg measured a
    * <64 MB broadcast OOM-killing a 3 GB executor heap in exactly this
    * readLongArray path, and 8 MB was the ceiling that ran sf10 clean
    * on those heaps. The sizing rule generalizes that measurement: keep
    * the DESERIALIZED build side at ~5% of the executor heap, i.e.
    * serialized ceiling = heap/384 (8 MB at 3 GB — the measured-good
    * config), capped at 64 MB (right for local[32]'s 128 GB heap and
    * for >=24 GB cluster executors; beyond 64 MB a shuffle join is the
    * better trade regardless of heap). Executor memory comes from
    * `spark.executor.memory` (spark-submit --conf lands in system
    * properties) or SPARK_EXECUTOR_MEMORY; under in-process local[N]
    * masters the executors share the driver heap, so Runtime.maxMemory
    * is the honest input. SPARK_GRAFT_BROADCAST_MAX (bytes) remains the
    * manual override. */
  def broadcastMax: String =
    sys.env.getOrElse("SPARK_GRAFT_BROADCAST_MAX",
      derivedBroadcastMax(executorMemoryBytes, master).toString)

  /** The derivation, pure so GraftSessionSpec can pin it:
    * min(64 MB, executor heap / 384), floored at 1 MB so a tiny-heap
    * test config still broadcasts single-row builds. */
  def derivedBroadcastMax(executorHeapBytes: Long, master: String): Long = {
    val cap = 64L * 1024 * 1024
    math.max(1L * 1024 * 1024, math.min(cap, executorHeapBytes / 384))
  }

  /** Executor heap in bytes: `spark.executor.memory` (system property —
    * how spark-submit --conf reaches a not-yet-built session — or
    * SPARK_EXECUTOR_MEMORY env), defaulting to Spark's 1g for
    * out-of-process masters; in-process local[N] executors run in THIS
    * JVM, so its max heap is the real capacity. */
  def executorMemoryBytes: Long = {
    val conf = sys.props.get("spark.executor.memory")
      .orElse(sys.env.get("SPARK_EXECUTOR_MEMORY"))
    conf.map(parseMemory).getOrElse {
      if (master.startsWith("local[")) Runtime.getRuntime.maxMemory
      else 1024L * 1024 * 1024 // Spark's spark.executor.memory default
    }
  }

  /** Spark-style memory strings: "3g", "1024m", "512k", bare bytes. */
  def parseMemory(s: String): Long = {
    val t = s.trim.toLowerCase
    val (num, mult) = t.last match {
      case 'k' => (t.dropRight(1), 1024L)
      case 'm' => (t.dropRight(1), 1024L * 1024)
      case 'g' => (t.dropRight(1), 1024L * 1024 * 1024)
      case 't' => (t.dropRight(1), 1024L * 1024 * 1024 * 1024)
      case 'b' => (t.dropRight(1), 1L)
      case _ => (t, 1L)
    }
    (num.toDouble * mult).toLong
  }

  /** Ad-hoc conf overrides for A/B experiments, applied LAST so they win:
    * SPARK_GRAFT_CONF="spark.x=1;spark.y=2". Never set by the bench
    * driver; exists so a config hypothesis can be measured without a
    * rebuild (the r13 A/B discipline). A run under overrides says so:
    * each applied pair is logged, and each malformed segment (no `=`,
    * or an empty key) is dropped with a warning. */
  def extraConf: Seq[(String, String)] = {
    val (pairs, dropped) = parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    pairs.foreach { case (k, v) => logInfo(s"SPARK_GRAFT_CONF override applied: $k=$v") }
    dropped.foreach(seg => logWarning(s"SPARK_GRAFT_CONF segment dropped, not key=value: '$seg'"))
    pairs
  }

  /** `k=v;k2=v2` → (the trimmed pairs, the non-blank segments that are
    * not `key=value`). Blank segments, as from a trailing `;`, are
    * skipped silently. */
  def parseConf(raw: String): (Seq[(String, String)], Seq[String]) = {
    val parsed = raw.split(';').toSeq.filter(_.trim.nonEmpty).map { seg =>
      seg.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Right(k.trim -> v.trim)
        case _ => Left(seg)
      }
    }
    (parsed.collect { case Right(kv) => kv }, parsed.collect { case Left(seg) => seg })
  }

  def builder(appName: String): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastMax)
      .config("spark.sql.session.timeZone", "UTC")
      // driver fixtures store ts as parquet TIMESTAMP(NANOS), which Spark
      // rejects by default; read as long nanos and convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native engine functions (cosine_sim, §2.10 D5)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config(scala.collection.immutable.ListMap(extraConf: _*))

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
