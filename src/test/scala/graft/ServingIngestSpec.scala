package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.ops.{Fixtures, StagedRestEndpoint}
import graft.streaming.{EventStreamPipeline, ServingPipeline, StreamingContractGate}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The ingest micro-batch of the serving path, piece by piece: the gate
  * census taken from an `Observation` on the one checkpoint job equals
  * the groupBy census it replaced, the handoff rows and columns are the
  * ones the join back to the events gave, the three sink writes run
  * concurrently yet fail the batch together, a batch costs a fixed
  * number of Spark jobs, and an empty poll appends nothing. */
class ServingIngestSpec extends SparkSpecBase {
  import spark.implicits._

  /** 60 valid events of every type, plus rows that break, or leave null,
    * each check. */
  private lazy val events: DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val valid = (1L to 60L).map { i =>
      (i, i % 7, types((i % 5).toInt), java.lang.Double.valueOf(i * 37 % 1000 / 10.0), s"k$i")
    }
    val odd = Seq[(Long, Long, String, java.lang.Double, String)](
      (900000001L, 7L, "telemetry", 1.0, "{}"),  // bad type
      (900000002L, 8L, "click", -5.0, "{}"),     // negative value
      (900000003L, 9L, "view", 2.0, null),       // null props
      (900000004L, 10L, null, 3.0, "{}"),        // null type: check is null, not failed
      (900000005L, 11L, "view", null, "{}")      // null value: check is null, not failed
    )
    (valid ++ odd).toDF("event_id", "user_id", "event_type", "value", "props")
      .select(col("event_id"), expr("timestamp_micros(1704067200000000 + event_id * 1000000)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  /** The census the ingest batch wrote before it came from an observation. */
  private def groupByCensus(checked: DataFrame, batchId: Long): DataFrame =
    checked.select(explode(col("checks")).as("c"))
      .groupBy(col("c.check").as("check"))
      .agg(count(lit(1)).as("n_checked"), sum(lit(1L) - col("c.ok")).as("n_violations"))
      .withColumn("batch_id", lit(batchId))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def types(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  test("the observed gate census equals the groupBy census, empty batch included") {
    for ((input, batchId) <- Seq(events -> 4L, events.limit(0) -> 5L)) {
      val obs = Observation()
      val checked = ServingPipeline.gated(input, obs).localCheckpoint()
      val observed = ServingPipeline.census(spark, obs.get, batchId)
      val grouped = groupByCensus(checked, batchId)
      assert(types(observed) == types(grouped))
      assert(sameRows(observed, grouped), s"batch $batchId: census differs")
      assert(observed.count() == (if (batchId == 4L) 3 else 0))
    }
    // the null checks are neither counted as violations nor as passes
    val obs = Observation()
    ServingPipeline.gated(events, obs).localCheckpoint()
    val m = obs.get
    assert(m("accepted_event_type") == 1L && m("value_non_negative") == 1L &&
      m("not_null_props") == 1L)
    assert(StreamingContractGate.checkNames ==
      Seq("accepted_event_type", "value_non_negative", "not_null_props"))
  }

  test("handoff rows, columns and ts equal the join back to the events") {
    val checked = ServingPipeline.gated(events, Observation()).localCheckpoint()
    val accepted = checked.filter(size(col("failed")) === 0).drop("checks", "failed", "delivery")
    val joined = EventStreamPipeline.collectForEvents(accepted)
      .join(accepted.select(col("event_id"), col("ts")), "event_id")
      .withColumn("v", col("n_high_risk") * 10L + col("sources_successful"))
      .withColumn("batch_id", lit(7L))
    val carried = ServingPipeline.handoff(checked, 7L)
    assert(types(carried) == types(joined))
    assert(carried.count() > 0 && sameRows(carried, joined))
    // carry = Nil is the plain composition
    val plain = EventStreamPipeline.collectForEvents(accepted)
    val nil = EventStreamPipeline.collectForEvents(accepted, carry = Nil)
    assert(types(nil) == types(plain) && sameRows(nil, plain))
    assert(EventStreamPipeline.collectForEvents(accepted, carry = Seq("ts")).columns.toSeq ==
      plain.columns.toSeq :+ "ts")
  }

  test("an event repeated within one poll gets one handoff row per delivery") {
    val served = ServingPipeline.handoff(ServingPipeline.gated(events, Observation()).localCheckpoint(), 0L)
      .select(min("event_id")).as[Long].head()
    val one = events.filter(col("event_id") === served)
    val repeated = one.unionAll(one).unionAll(one)
    val once = ServingPipeline.handoff(ServingPipeline.gated(one, Observation()).localCheckpoint(), 0L)
      .drop("batch_id").collect().toSeq
    val thrice = ServingPipeline.handoff(
        ServingPipeline.gated(repeated, Observation()).localCheckpoint(), 0L)
      .drop("batch_id").collect().toSeq
    assert(once.size == 1)
    // three rows, each the single delivery's response: the counts are not
    // summed over the repeats
    assert(thrice == Seq.fill(3)(once.head))
  }

  test("sink writes keep the caller's local properties and wait for each other") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.marker", "ingest-batch")
    try {
      val seen = new ConcurrentLinkedQueue[String]()
      val slowDone = new AtomicBoolean(false)
      val boom = intercept[IllegalStateException] {
        ServingPipeline.writeConcurrently(spark, Seq(
          () => { seen.add(sc.getLocalProperty("graft.spec.marker")); throw new IllegalStateException("first") },
          () => { Thread.sleep(300); seen.add(sc.getLocalProperty("graft.spec.marker")); slowDone.set(true) },
          () => throw new IllegalArgumentException("second")))
      }
      assert(boom.getMessage == "first") // the first failure in sink order
      assert(slowDone.get, "returned before the slow write finished")
      assert(seen.asScala.toSeq == Seq("ingest-batch", "ingest-batch"))
    } finally sc.setLocalProperty("graft.spec.marker", null)
  }

  /** The ingest feed: the events above as JSONL behind the endpoint. */
  private lazy val url: String = {
    val jsonl = events.select(col("event_id"), expr("unix_micros(ts)").as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props")).toJSON.collect().mkString("\n")
    val path = java.nio.file.Paths.get(Fixtures.Root, "text", "events_ingest.jsonl")
    Files.createDirectories(path.getParent)
    Files.writeString(path, jsonl)
    s"${StagedRestEndpoint.baseUrl}/files/text/events_ingest.jsonl"
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("one ingest batch runs five jobs: the checkpoint, then the three sinks") {
    val jobs = new ConcurrentLinkedQueue[(Int, String)]() // (job id, job group)
    val ended = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = ServingPipeline.runIngest(spark, url, tmp("ingest_handoff"), tmp("ingest_quar"),
        tmp("ingest_gate"), tmp("ingest_ck"), maxPolls = 1)
      q.processAllAvailable(); q.stop()
      val group = q.runId.toString
      def mine = jobs.asScala.filter(_._2 == group).map(_._1).toSeq
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((mine.isEmpty || !mine.forall(ended.contains)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      // poll + parse + gate + census in one checkpoint job; the census
      // write; the quarantine write; the handoff's shuffle and its write
      assert(mine.size == 5, s"jobs of the ingest batch: $mine")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an empty poll appends no file to any sink") {
    val path = java.nio.file.Paths.get(Fixtures.Root, "text", "events_empty.jsonl")
    Files.createDirectories(path.getParent)
    Files.writeString(path, "")
    val sinks = Seq(tmp("empty_handoff"), tmp("empty_quar"), tmp("empty_gate"))
    val ck = tmp("empty_ck")
    val q = ServingPipeline.runIngest(spark, s"${StagedRestEndpoint.baseUrl}/files/text/events_empty.jsonl",
      sinks(0), sinks(1), sinks(2), ck, maxPolls = 2)
    q.processAllAvailable(); q.stop()
    val committed = new java.io.File(ck, "commits").list().filter(_.forall(_.isDigit)).sorted.toSeq
    assert(committed == Seq("0", "1"), s"committed batches: $committed")
    for (d <- sinks) {
      val files = new java.io.File(d).list().toSeq
      assert(files.isEmpty, s"$d: ${files.mkString(", ")}")
    }
  }

  test("a failing sink write fails the batch, after the other sinks finish") {
    val handoff = tmp("fail_handoff")
    // a regular file where the quarantine directory should be
    val quarantine = Files.createTempFile("fail_quar", ".file").toString
    val q = ServingPipeline.runIngest(spark, url, handoff, quarantine, tmp("fail_gate"),
      tmp("fail_ck"), maxPolls = 1)
    val e = intercept[StreamingQueryException](q.awaitTermination(120000))
    assert(e.getMessage.nonEmpty)
    q.stop()
    // the batch waited for the handoff write before failing
    assert(spark.read.parquet(handoff).count() > 0)
    val tracker = spark.sparkContext.statusTracker
    val running = tracker.getJobIdsForGroup(q.runId.toString).flatMap(tracker.getJobInfo)
      .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
    assert(running.isEmpty, s"jobs left running: ${running.map(_.jobId).mkString(",")}")
  }
}
