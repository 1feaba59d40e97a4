package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{EventStreamPipeline, ServingPipeline}

/** One event as the generator makes it; `props` may be null. */
final case class Ev(event_id: Long, ts_us: Long, user_id: Long, event_type: String,
                    value: Double, props: String)

/** One delivery of an event: due at `dueMs` (epoch ms), the first
  * delivery or a re-delivery, breaking `violation` (a contract check
  * name) or none. Warm-up deliveries are not timed. */
final case class Delivery(seq: Int, dueMs: Double, ev: Ev, violation: String, warm: Boolean)

/** The in-process HTTP endpoint the ingest query polls. The generator
  * thread releases deliveries at their due times; each GET returns
  * every released delivery not yet returned, except that one event id
  * appears at most once per response (a re-delivery waits for the next
  * poll, as a real re-delivery would). */
final class Feed {
  private val released = new java.util.ArrayDeque[Delivery]()
  /** (time the poll was answered, ms from request to response closed,
    * deliveries returned) */
  val polls = mutable.ArrayBuffer.empty[(Double, Double, Seq[Delivery])]
  var lateMaxMs = 0.0
  private var taken = 0 // polls whose deliveries have been taken

  def release(d: Delivery): Unit = synchronized { released.add(d) }
  def pending: Int = synchronized(released.size)
  def pollCount: Int = synchronized(taken)

  /** Takes the deliveries of one poll and renders them as JSONL. */
  private def take(): (Array[Byte], Seq[Delivery]) = synchronized {
    val out = mutable.ArrayBuffer.empty[Delivery]
    val ids = mutable.HashSet.empty[Long]
    val deferred = mutable.ArrayBuffer.empty[Delivery]
    while (!released.isEmpty) {
      val d = released.poll()
      if (ids.add(d.ev.event_id)) out += d else deferred += d
    }
    deferred.foreach(released.add)
    taken += 1
    notifyAll()
    val body = out.map(d => Main.json.writeValueAsString(d.ev)).mkString("\n")
    (body.getBytes(StandardCharsets.UTF_8), out.toSeq)
  }

  private def answered(t0: Double, out: Seq[Delivery]): Unit = synchronized {
    val t = Clock.ms
    polls += ((t, t - t0, out))
  }

  /** Waits until more than `n` polls have taken their deliveries. */
  def awaitPolls(n: Int, timeoutMs: Long): Boolean = synchronized {
    val end = System.currentTimeMillis() + timeoutMs
    while (taken <= n && System.currentTimeMillis() < end) wait(50)
    taken > n
  }

  def serve(): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/events", ex => {
      val t0 = Clock.ms
      val (body, out) = take()
      ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
      ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
      answered(t0, out)
    })
    server.start()
    server
  }
}

object Serve {
  private val Types = Array("click", "error", "purchase", "signup", "view")
  private val Checks = Array("accepted_event_type", "value_non_negative", "not_null_props")
  private val Epoch2024Us = 1704067200000000L

  /** The seeded schedule: `rate` deliveries per second for `seconds`.
    * Each new event breaks one contract check with chance `violate` and
    * may be re-delivered up to `redeliveries` times later; a delivery is
    * a re-delivery with chance `redeliver` while some event has one left.
    * Offsets are ms from the schedule's start. */
  def schedule(seed: Long, rate: Double, seconds: Double, redeliver: Double, violate: Double,
               redeliveries: Int): Seq[(Double, Ev, String)] = {
    val rnd = new SplittableRandom(seed)
    val open = mutable.ArrayBuffer.empty[(Ev, String, Int)] // re-deliveries left per event
    var nextId = 1L
    (0 until math.round(rate * seconds).toInt).map { i =>
      val off = i * 1000.0 / rate
      if (open.nonEmpty && rnd.nextDouble() < redeliver) {
        val k = rnd.nextInt(open.size)
        val (ev, check, left) = open(k)
        if (left > 1) open(k) = (ev, check, left - 1)
        else { open(k) = open.last; open.remove(open.size - 1) }
        (off, ev, check)
      } else {
        val base = Ev(nextId, Epoch2024Us + math.round(off * 1000), rnd.nextLong(1000),
          Types(rnd.nextInt(Types.length)),
          math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100) / 100.0,
          s"""{"k": ${rnd.nextInt(100)}}""")
        nextId += 1
        val (ev, check) = if (rnd.nextDouble() < violate) {
          Checks(rnd.nextInt(Checks.length)) match {
            case c @ "accepted_event_type" => (base.copy(event_type = "telemetry"), c)
            case c @ "value_non_negative" => (base.copy(value = -(base.value + 1.0)), c)
            case c => (base.copy(props = null), c)
          }
        } else (base, null)
        if (redeliveries > 0) open += ((ev, check, redeliveries))
        (off, ev, check)
      }
    }
  }

  private final case class Dirs(root: String) {
    val handoff = s"$root/handoff"; val quarantine = s"$root/quarantine"; val gate = s"$root/gate"
    val serve = s"$root/serve"; val ckIngest = s"$root/ck_ingest"; val ckServe = s"$root/ck_serve"
    Seq(handoff, quarantine, gate, serve).foreach(new File(_).mkdirs())
  }

  def run(plan: JsonNode): Map[String, Any] = {
    val work = plan.get("work").asText
    val traced = plan.get("trace").asInt == 1
    val seed = plan.get("seed").asLong
    val st = plan.get("stream")
    val rate = st.get("rate").asDouble
    val seconds = plan.get("seconds").asDouble
    val drainS = st.get("drain_s").asDouble
    val feed = new Feed
    val server = feed.serve()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/events"
    val triggers = new TriggerLog
    val deliveries = mutable.ArrayBuffer.empty[Delivery]
    var seq = 0
    def deliver(dueMs: Double, ev: Ev, violation: String, warm: Boolean): Delivery = {
      val d = Delivery(seq, dueMs, ev, violation, warm); seq += 1; deliveries += d; d
    }

    val dirs = Dirs(s"$work/stream")
    var ingest: StreamingQuery = null
    var serveQ: StreamingQuery = null
    // the tracer attaches before the streams start: each stream plans in
    // a clone of the session, which copies the session's listeners
    var tracer: Option[Tracer] = None

    // set-up: session, both streaming queries, and one warm-up batch of
    // accepted events, released before the streams start so that the
    // first poll takes them, then handed off and served
    val setUp = Main.setUp { s =>
      if (traced) { tracer = Some(new Tracer(s)); tracer.get.attach() }
      s.streams.addListener(triggers)
      val warm = schedule(seed + 1000003L, 1000.0, 0.02, 0.0, 0.0, 0)
      warm.foreach { case (_, ev, _) =>
        feed.release(deliver(Clock.ms, ev.copy(event_id = ev.event_id + 1000000000L), null, warm = true))
      }
      ingest = ServingPipeline.runIngest(s, url, dirs.handoff, dirs.quarantine, dirs.gate,
        dirs.ckIngest, Long.MaxValue)
      serveQ = ServingPipeline.runServe(s, dirs.handoff, dirs.serve, dirs.ckServe, 86400L)
      // the poll that takes them, then one more: their batch has committed
      while (feed.pending > 0) feed.awaitPolls(feed.pollCount, 100)
      require(feed.awaitPolls(feed.pollCount, 60000), "ingest stopped polling during set-up")
      serveQ.processAllAvailable()
    }
    val spark = setUp.spark

    tracer.foreach(_.reset())
    setUp.record(tracer)
    val plannedEvents = schedule(seed, rate, seconds, st.get("redeliver").asDouble,
      st.get("violate").asDouble, st.get("redeliveries").asInt)
    val t0 = Clock.ms + 100
    val timed = plannedEvents.map { case (off, ev, v) => deliver(t0 + off, ev, v, warm = false) }
    val gen = new Thread(() => {
      for (d <- timed) {
        val wait = d.dueMs - Clock.ms
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        feed.release(d)
        feed.lateMaxMs = math.max(feed.lateMaxMs, Clock.ms - d.dueMs)
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    // drain: every release polled, that batch committed, then served
    val drainEnd = System.currentTimeMillis() + (drainS * 1000).toLong
    while (feed.pending > 0 && System.currentTimeMillis() < drainEnd) feed.awaitPolls(feed.pollCount, 100)
    val drained = feed.pending == 0 && feed.awaitPolls(feed.pollCount, drainEnd - System.currentTimeMillis())
    if (drained) serveQ.processAllAvailable()
    val tEnd = Clock.ms
    val liveHeap = Main.liveHeapMb()
    tracer.foreach(_.detach())
    ingest.stop(); serveQ.stop()
    spark.streams.removeListener(triggers)
    server.stop(0)

    val trig = triggers.triggers.asScala.toSeq.filter(_.endMs >= t0 - 100)
    val c0 = Clock.ms
    val check = checkOutputs(spark, dirs, deliveries.toSeq, trig)
    System.err.println(s"[perfbench] stream ${(tEnd - t0) / 1e3} s, checks ${(Clock.ms - c0) / 1e3} s")
    val timedPolls = feed.polls.filter(_._1 >= t0 - 100)
    Map(
      "header" -> Main.header(spark),
      "setup_end_ms" -> setUp.endMs, "session_start_s" -> setUp.startS,
      "drained" -> drained, "live_heap_mb" -> liveHeap,
      "first_due_ms" -> t0, "end_ms" -> tEnd,
      "deliveries" -> timed.size,
      "gen_late_ms_max" -> feed.lateMaxMs,
      "polls" -> timedPolls.map { case (t, ms, ds) => Map("t" -> t, "ms" -> ms, "n" -> ds.size) },
      "triggers" -> trig.map(t => Map("query" -> t.query, "batch" -> t.batchId, "start" -> t.startMs,
        "end" -> t.endMs, "input_rows" -> t.inputRows, "durations" -> t.durations,
        "state_rows" -> t.stateRows, "state_commit_ms" -> t.stateCommitMs)),
      "exec" -> tracer.map { t =>
        val s = t.statsOf(0L)
        s.synchronized(s.toMap + ("idle_gap_s" -> s.idleMs(t0, tEnd) / 1e3))
      }.getOrElse(Map.empty),
      "spans" -> tracer.map(_.spans.asScala.toSeq).getOrElse(Nil)) ++ check
  }

  /** Untimed output checks, and the per-event latencies they yield. */
  private def checkOutputs(spark: SparkSession, dirs: Dirs, deliveries: Seq[Delivery],
                           trig: Seq[Trigger]): Map[String, Any] = {
    import spark.implicits._
    val errors = mutable.ArrayBuffer.empty[String]
    val violating = deliveries.filter(_.violation != null)
    val accepted = deliveries.filter(_.violation == null)

    // gate census: every delivery checked, every violation counted
    val gate = spark.read.parquet(dirs.gate).groupBy("check")
      .agg(sum("n_checked").as("nc"), sum("n_violations").as("nv"))
      .as[(String, Long, Long)].collect().map { case (k, n, v) => k -> ((n, v)) }.toMap
    for (c <- Checks) {
      val want = (deliveries.size.toLong, violating.count(_.violation == c).toLong)
      if (gate.getOrElse(c, (0L, 0L)) != want) errors += s"gate census $c: got ${gate.get(c)}, want $want"
    }
    val quarantined = spark.read.parquet(dirs.quarantine).count()
    if (quarantined != violating.size) errors += s"quarantine rows: got $quarantined, want ${violating.size}"

    // handoff: one collectForEvents row per accepted delivery
    val cols = Seq("event_id", "request_id", "priority", "timeout_s", "landfire", "modis",
      "weather", "topography", "sources_successful", "n_high_risk")
    val distinctEvents = accepted.map(_.ev).distinct.toDF()
      .withColumn("ts", expr("timestamp_micros(ts_us)")).drop("ts_us")
    val expectedOnce = EventStreamPipeline.collectForEvents(distinctEvents).select(cols.map(col): _*)
    val times = accepted.groupBy(_.ev.event_id).map { case (k, v) => (k, v.size) }.toSeq
      .toDF("event_id", "times")
    val expected = expectedOnce.join(times, "event_id")
      .select(col("*"), explode(sequence(lit(1), col("times"))).as("i"))
      .select(cols.map(col): _*).cache()
    val handoff = spark.read.parquet(dirs.handoff).select(cols.map(col): _*)
    val missing = expected.exceptAll(handoff).count()
    val extra = handoff.exceptAll(expected).count()
    if (missing + extra > 0) errors += s"handoff: $missing missing, $extra unexpected rows"
    val servedKeys = expectedOnce.select("event_id").as[Long].collect().toSet
    expected.unpersist()

    // serve sink: per key one cold, then hits; latency per delivery
    val fileMtime = Option(new File(dirs.serve).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(f => f.toURI.getPath -> f.lastModified().toDouble).toMap
    val serveEnds = trig.filter(_.query == "serving_serve").map(_.endMs).sorted
    def batchEnd(mtime: Double): Double = serveEnds.find(_ >= mtime).getOrElse(mtime)
    val served = spark.read.parquet(dirs.serve)
      .select(col("key"), col("outcome"), input_file_name().as("file"))
      .as[(Long, String, String)].collect()
      .map { case (k, o, f) => (k, o, batchEnd(fileMtime.getOrElse(new java.net.URI(f).getPath, 0.0))) }
    val servedBy = served.groupBy(_._1)
    val servedAt = mutable.ArrayBuffer.empty[(Double, Double)]
    var hits = 0L
    var unserved = 0L
    for ((key, ds) <- accepted.filter(d => servedKeys(d.ev.event_id)).groupBy(_.ev.event_id)) {
      val rows = servedBy.getOrElse(key, Array.empty).sortBy(_._3)
      val outcomes = rows.map(_._2).toSeq
      hits += outcomes.count(_ == "hit")
      if (outcomes.nonEmpty && (outcomes.head != "cold" || outcomes.tail.exists(_ != "hit")))
        errors += s"serve outcomes for key $key: ${outcomes.mkString(",")}"
      unserved += math.max(0, ds.size - rows.length)
      if (rows.length > ds.size) errors += s"key $key served ${rows.length} times, delivered ${ds.size}"
      ds.sortBy(_.dueMs).zip(rows).foreach { case (d, r) => if (!d.warm) servedAt += ((d.dueMs, r._3)) }
    }
    // each unserved delivery counts as one failure; the other errors count once each
    val nOther = errors.size
    if (unserved > 0) errors += s"$unserved accepted deliveries never served"
    Map(
      "errors" -> errors.take(20).toSeq, "n_errors" -> nOther, "unserved" -> unserved,
      "latency_ms" -> servedAt.map { case (due, at) => at - due }.toSeq,
      "served_at_ms" -> servedAt.map(_._2).toSeq,
      "served_rows" -> served.length, "memo_hits" -> hits,
      "quarantined" -> quarantined,
      "sink_files" -> Seq(dirs.serve, dirs.handoff, dirs.quarantine, dirs.gate).map { d =>
        Option(new File(d).listFiles()).getOrElse(Array.empty[File]).count(_.getName.endsWith(".parquet"))
      }.sum,
      "violating_deliveries" -> violating.count(!_.warm), "all_deliveries" -> deliveries.count(!_.warm))
  }
}
