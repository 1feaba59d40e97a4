package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.ops.{Bfs, ConnectedComponents, LabelProp}
import graft.queries.QueryRegistry

/** One operation of a batch workload: a registered query, or a direct
  * call into an iterative graph operator. */
final case class Op(kind: String, name: String)

/** JVM side of the benchmark. Reads a plan (JSON) written by run.py,
  * runs the workload, and writes a record (JSON) of raw samples that
  * run.py turns into metrics:
  *
  *   java ... perfbench.Main <plan.json>
  *
  * Set-up (session start plus the workload's warm-up) runs once, cold,
  * and records the epoch ms at which it ended; then timed passes run
  * until `seconds` have elapsed (at least one). */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val record = plan.get("workload").asText match {
      case "serve_stream" => Serve.run(plan)
      case _ => Batch.run(plan)
    }
    Files.writeString(Paths.get(plan.get("out").asText), json.writeValueAsString(record))
  }

  /** The set-up of one run: the session, its start's seconds and the
    * set-up's interval (epoch ms). */
  final case class SetUp(spark: SparkSession, startS: Double, startMs: Double, endMs: Double) {
    def record(tracer: Option[Tracer]): Unit = tracer.foreach(
      _.add(0, 0, "session", "set-up", startMs, endMs, "GraftSession.local + warm-up"))
  }

  /** Starts the session and runs `warmUp` on it. */
  def setUp(warmUp: SparkSession => Unit): SetUp = {
    val c0 = Clock.ms
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench")
    val startS = (System.nanoTime() - t0) / 1e9
    warmUp(spark)
    SetUp(spark, startS, c0, Clock.ms)
  }

  def header(spark: SparkSession): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))

  /** Heap in use after a full collection: what the engine retains. The
    * second collection follows the context cleaner's release of blocks
    * whose RDDs the first one freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)
}

object Batch {
  def run(plan: JsonNode): Map[String, Any] = {
    val data = plan.get("data").asText
    val work = plan.get("work").asText
    val traced = plan.get("trace").asInt == 1
    val ops = plan.get("ops").elements.asScala.map(o => Op(o.get("kind").asText, o.get("name").asText)).toSeq
    val warm = Op("query", plan.get("warmup").asText)
    val lpaRounds = plan.get("lpa_rounds").asInt
    val bfsHops = plan.get("bfs_hops").asInt
    val graphPath = s"$data/graph_edges.parquet"

    def symmetric(spark: SparkSession): DataFrame = {
      val e = spark.read.parquet(graphPath)
      e.union(e.select(e("dst").as("src"), e("src").as("dst")))
    }

    /** Builds the operation's result; iterative operators run their
      * rounds here. Returns the frame and, for those, the round count. */
    def build(spark: SparkSession, op: Op): (DataFrame, Int) = op.kind match {
      case "query" => (QueryRegistry.queries(op.name)(spark, data), 0)
      case "cc" =>
        val r = ConnectedComponents.resolveChecked(spark.read.parquet(graphPath))
        if (!r.converged) throw new IllegalStateException(s"CC did not converge in ${r.rounds} rounds")
        (r.labels, r.rounds)
      case "lpa" => (LabelProp.propagate(symmetric(spark), lpaRounds), lpaRounds)
      case "bfs" =>
        val r = Bfs.run(symmetric(spark), 0L, bfsHops)
        (r.distances, r.frontierSizes.size)
    }

    val missing = ops.filter(o => o.kind == "query" && !QueryRegistry.queries.contains(o.name))
    require(missing.isEmpty, s"queries not registered: ${missing.map(_.name).mkString(", ")}")
    // Warm-up: the warm-up query, and one BFS hop so that the first
    // iterative operator timed does not carry their shared start-up JIT;
    // both through the same parquet writer as the timed operations.
    val setUp = Main.setUp { s =>
      build(s, warm)._1.write.mode("overwrite").parquet(s"$work/warmup/query")
      Bfs.run(symmetric(s), 0L, 1).distances.write.mode("overwrite").parquet(s"$work/warmup/bfs")
      s.catalog.clearCache()
    }
    val spark = setUp.spark

    def output(op: Op) = s"$work/out/${op.name}"
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Main.json.writeValueAsString(
      ops.flatMap(o => QueryRegistry.oracleSql.get(o.name).map(o.name -> _)).toMap))

    val tracer = if (traced) { val t = new Tracer(spark); t.attach(); Some(t) } else None
    setUp.record(tracer)
    val seconds = plan.get("seconds").asDouble
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    var liveHeap = 0.0
    while (pass == 0 || System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      val passSpan = tracer.map(t => t.nextId()).getOrElse(0L)
      val passStart = Clock.ms
      for (op <- ops) samples += timeOne(spark, op, output(op), pass, passSpan, tracer, build)
      passes += (System.nanoTime() - p0) / 1e9
      liveHeap = math.max(liveHeap, Main.liveHeapMb())
      tracer.foreach(_.add(0, 0, "workload", s"pass $pass", passStart, Clock.ms, "timed pass",
        id = passSpan))
      pass += 1
    }
    tracer.foreach(_.detach())

    Map(
      "header" -> Main.header(spark),
      "setup_end_ms" -> setUp.endMs, "session_start_s" -> setUp.startS,
      "pass_s" -> passes.toSeq, "ops" -> samples.toSeq, "live_heap_mb" -> liveHeap,
      "cache_peak_bytes" -> tracer.map(_.cachePeak).getOrElse(0L),
      "cache_evicted_blocks" -> tracer.map(_.evicted.get).getOrElse(0L),
      "spans" -> tracer.map(_.spans.asScala.toSeq).getOrElse(Nil))
  }

  /** Times one operation: the builder call, then full materialization
    * of its result as parquet at `out`, which the output check reads.
    * With a tracer, records the operation's spans and counters. */
  private def timeOne(spark: SparkSession, op: Op, out: String, pass: Int, passSpan: Long,
                      tracer: Option[Tracer],
                      build: (SparkSession, Op) => (DataFrame, Int)): Map[String, Any] = {
    val sc = spark.sparkContext
    val opId = tracer.map(_.nextId()).getOrElse(0L)
    val buildSpan = tracer.map(_.nextId()).getOrElse(0L)
    val actionSpan = tracer.map(_.nextId()).getOrElse(0L)
    tracer.foreach { t => t.currentOp = opId; t.currentSpan = buildSpan }
    sc.setLocalProperty("perfbench.op", opId.toString)
    sc.setLocalProperty("perfbench.span", buildSpan.toString)
    sc.setLocalProperty("perfbench.phase", "build")
    val persisted0 = sc.getPersistentRDDs.keySet
    val s0 = Clock.ms
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    var rounds = 0
    var error: String = null
    try {
      val (df, r) = build(spark, op)
      rounds = r
      t1 = System.nanoTime()
      tracer.foreach(_.currentSpan = actionSpan)
      sc.setLocalProperty("perfbench.span", actionSpan.toString)
      sc.setLocalProperty("perfbench.phase", "action")
      df.write.mode("overwrite").parquet(out)
      t2 = System.nanoTime()
    } catch { case e: Throwable => error = Main.message(e); if (t1 == t0) t1 = System.nanoTime() }
    if (t2 == t0) t2 = System.nanoTime()
    val s2 = s0 + (t2 - t0) / 1e6
    val leaked = (sc.getPersistentRDDs.keySet -- persisted0).size
    spark.catalog.clearCache()
    Seq("perfbench.op", "perfbench.span", "perfbench.phase").foreach(sc.setLocalProperty(_, null))
    val base = Map[String, Any]("name" -> op.name, "kind" -> op.kind, "pass" -> pass,
      "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
      "rounds" -> rounds, "leaked_rdds" -> leaked, "error" -> error)
    tracer match {
      case None => base
      case Some(t) =>
        t.drain()
        t.reconcileCache()
        val s1 = s0 + (t1 - t0) / 1e6
        t.add(passSpan, opId, "workload", op.name, s0, s2, s"pass $pass", id = opId)
        t.add(opId, opId, "queries", "queries.build", s0, s1, op.kind, id = buildSpan)
        t.add(opId, opId, "action", "action", s1, s2, "parquet write", id = actionSpan)
        val st = t.statsOf(opId)
        st.synchronized { base ++ st.toMap + ("idle_gap_s" -> st.idleMs(s0, s2) / 1e3) + ("op_id" -> opId) }
    }
  }
}
