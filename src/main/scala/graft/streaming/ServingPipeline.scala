package graft.streaming

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.StructType

/** §3 COMPOSED serving path — the continuous deployment shape a
  * production rollout of the reference actually runs, chained from the
  * individually spec-proven pieces (VERDICT r8 next #8):
  *
  *   RestSource micro-batch poll (live HTTP)
  *     → parse JSONL to events
  *     → contract gate inline (StreamingContractGate.checkPairs:
  *       violations quarantined WITH their failed checks, per-batch gate
  *       census appended — counters stay commutative, so the cumulative
  *       census is a plain sum over the sink)
  *     → routed collect (EventStreamPipeline.collectForEvents, the full
  *       t6 composition) on accepted rows → handoff sink
  *   [handoff dir = the loopback stand-in for a Kafka topic]
  *   second query tails the handoff
  *     → memoizing result cache (StreamingResultCache.MemoProcessor):
  *       first delivery of an event's response = cold (stored), poll
  *       re-deliveries within TTL = hit — the orchestrator's dedupe of
  *       repeated event triggers → serve sink
  *
  * Restart safety: both queries checkpoint (REST poll offsets; RocksDB
  * cache state), so a kill between polls resumes without re-serving
  * round 1 — ServingPipelineSpec kills after round 1 and drains rounds
  * 2–3 from the same checkpoints.
  *
  * Scale: the serving path is open-loop, so an event's latency is set by
  * the chain of Spark jobs each micro-batch runs one after another, not
  * by its data volume (a few hundred rows per poll). Stage 1 runs the
  * poll, parse and contract gate in ONE materializing job, a
  * localCheckpoint of the gated rows; the gate census is an
  * `Observation` on that job, so it costs no shuffle of its own. The
  * three sinks then read the checkpoint concurrently: the census rows
  * (a local write), the quarantine (a filter) and the handoff (the
  * collect chain's single request_id shuffle, with `ts` carried through
  * it rather than joined back). A batch's critical path is therefore the
  * checkpoint job plus the handoff's two. An empty poll stops after the
  * checkpoint job: it appends no file, so an idle feed costs one job per
  * poll and no serve batch at all. Stage 2 state is 16 bytes per
  * served key, in RocksDB with changelog commits ([[RocksDBState]]).
  */
object ServingPipeline {

  /** Event-line schema as staged by the spec (ts as epoch micros, so the
    * JSONL is timezone-unambiguous). */
  private val lineSchema =
    "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Fetched REST bodies → one typed event row per JSONL line. */
  def parseEvents(fetched: DataFrame): DataFrame =
    fetched
      .filter(col("status") === 200)
      .select(explode(split(col("body").cast("string"), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(from_json(col("line"), StructType.fromDDL(lineSchema)).as("e"))
      .select(col("e.event_id").as("event_id"),
        expr("timestamp_micros(e.ts_us)").as("ts"),
        col("e.user_id").as("user_id"), col("e.event_type").as("event_type"),
        col("e.value").as("value"), col("e.props").as("props"))

  /** Schema of the per-batch gate census rows. */
  private val censusSchema =
    StructType.fromDDL("check STRING, n_checked BIGINT, n_violations BIGINT, batch_id BIGINT")

  /** The handoff sink's columns, in order. */
  private val handoffColumns = Seq("event_id", "request_id", "priority", "timeout_s",
    "landfire", "modis", "weather", "topography", "sources_successful", "n_high_risk", "ts")

  /** Parsed events with the contract gate applied: `checks` holds every
    * check's (check, ok) pair, `failed` the names of the failed ones, and
    * `delivery` tells apart rows that repeat an event within one poll.
    * `observation` receives the gate's per-check counts when the frame
    * is first materialized. */
  def gated(events: DataFrame, observation: Observation): DataFrame = {
    val counts = StreamingContractGate.checkNames.zipWithIndex.map { case (name, i) =>
      sum(lit(1L) - col("checks")(i)("ok")).as(name)
    }
    events
      .withColumn("checks", StreamingContractGate.checkPairs)
      .withColumn("failed",
        expr("transform(filter(checks, c -> c.ok = 0), c -> c.check)"))
      .withColumn("delivery", monotonically_increasing_id())
      .observe(observation, count(lit(1)).as("n"), counts: _*)
  }

  /** The per-batch gate census from an observed gate: one row per check,
    * or none for an empty batch — the rows a groupBy over the exploded
    * checks gives, without that groupBy's shuffle. One partition, so a
    * batch appends one census file, not one per check. */
  def census(spark: SparkSession, observed: Map[String, Any], batchId: Long): DataFrame = {
    val n = observed("n").asInstanceOf[Long]
    val rows = if (n == 0) Nil
      else StreamingContractGate.checkNames.map(name => Row(name, n, observed(name), batchId))
    spark.createDataFrame(rows.asJava, censusSchema).coalesce(1)
  }

  /** Accepted rows of a gated frame → the handoff rows, one per accepted
    * delivery. */
  def handoff(checked: DataFrame, batchId: Long): DataFrame =
    EventStreamPipeline.collectForEvents(
        checked.filter(size(col("failed")) === 0).drop("checks", "failed"),
        carry = Seq("ts", "delivery"))
      .select(handoffColumns.map(col): _*)
      .withColumn("v", col("n_high_risk") * 10L + col("sources_successful"))
      .withColumn("batch_id", lit(batchId))

  /** Runs the sink writes of one micro-batch on the sink pool, each
    * keeping the calling thread's Spark local properties (the stream's
    * job group, so stopping the query cancels them too). Waits for every
    * write — a failed one must not leave the others running past its
    * batch — then rethrows the first failure. */
  def writeConcurrently(spark: SparkSession, writes: Seq[() => Unit]): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pending: Seq[CompletableFuture[Unit]] =
      writes.map(w => SQLExecution.withThreadLocalCaptured(session, sinkPool)(w()))
    val failures = pending.flatMap { f =>
      try { f.join(); None }
      catch { case e: CompletionException => Some(Option(e.getCause).getOrElse(e)) }
    }
    failures.headOption.foreach(e => throw e)
  }

  /** Threads for the sink writes: daemon, at most three (one per sink of
    * a batch), retired after a minute idle. */
  private lazy val sinkPool: ExecutorService = {
    val n = new AtomicInteger()
    val pool = new ThreadPoolExecutor(3, 3, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"serving-sink-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Stage 1: poll → parse → gate → routed collect → handoff. */
  def runIngest(spark: SparkSession, url: String, handoffDir: String,
                quarantineDir: String, gateDir: String, checkpointDir: String,
                maxPolls: Long): StreamingQuery = {
    val fetched = spark.readStream.format("graft.sources.RestSource")
      .option("urls", url)
      .option("maxPolls", maxPolls.toString)
      .load()
    fetched.writeStream
      .queryName("serving_ingest") // named so the scrape listener's rows identify the stage
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val observation = Observation()
        val checked = gated(parseEvents(batch), observation).localCheckpoint()
        val observed = observation.get
        val session = batch.sparkSession
        // an empty poll appends nothing: no empty file in any sink, and so
        // no batch for the serve stream to run
        if (observed("n") != 0L) writeConcurrently(session, Seq(
          // gate census per micro-batch; counters are commutative so the
          // cumulative gate state is a sum over this sink
          () => census(session, observed, batchId).write.mode("append").parquet(gateDir),
          // violations quarantined with their failed checks, never dropped
          () => checked.filter(size(col("failed")) > 0)
            .select(col("event_id"), col("event_type"), col("value"), col("props"),
              concat_ws(";", col("failed")).as("failed_checks"),
              lit(batchId).as("batch_id"))
            .write.mode("append").parquet(quarantineDir),
          // the full routed-collect composition on accepted rows; the
          // response fingerprint rides along for the memo cache stage
          () => handoff(checked, batchId).write.mode("append").parquet(handoffDir)))
      }
      .start()
  }

  /** Stage 2: tail the handoff, serve through the memoizing cache. */
  def runServe(spark: SparkSession, handoffDir: String, serveDir: String,
               checkpointDir: String, ttlSeconds: Long): StreamingQuery = {
    import spark.implicits._
    RocksDBState.use(spark)
    val stream = spark.readStream
      .schema(
        "event_id LONG, request_id STRING, priority STRING, timeout_s INT, " +
          "landfire STRING, modis STRING, weather STRING, topography STRING, " +
          "sources_successful LONG, n_high_risk LONG, ts TIMESTAMP, v LONG, batch_id LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(handoffDir)
      .select(col("event_id").as("key"), col("ts"), col("v"))
      .as[StreamingResultCache.Upstream]
    stream
      .groupByKey(_.key)
      .transformWithState(new StreamingResultCache.MemoProcessor(ttlSeconds),
        TimeMode.None(), OutputMode.Append(),
        Encoders.product[StreamingResultCache.Served])
      .writeStream
      .queryName("serving_serve") // named so the scrape listener's rows identify the stage
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[StreamingResultCache.Served], _: Long) =>
        batch.write.mode("append").parquet(serveDir)
      }
      .start()
  }
}
