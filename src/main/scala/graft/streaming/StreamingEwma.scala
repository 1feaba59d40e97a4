package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** The streaming face of the `w5_ewma` batch query — the order-SENSITIVE
  * recurrence s₁ = x₁, sₜ = (xₜ + sₜ₋₁)·0.5 folded incrementally in
  * `transformWithState`, without materializing any per-user sequence
  * (the batch query's collect_list becomes a 16-byte ValueState cell).
  *
  * Order contract: within a micro-batch, rows sort by (event-time µs,
  * event_id) before folding, so micro-batch BOUNDARIES are transparent;
  * in-order delivery ACROSS batches is the documented precondition, as
  * with StreamingNearDup and StreamingFunnel (the spec replays the
  * fixture as time-split batches). Because α = 1/2 keeps every step an
  * IEEE add + an exact multiply-by-0.5, the drained stream equals the
  * batch fold BIT-FOR-BIT — asserted with exact equality, no tolerance.
  *
  * Scale: two fields per user, individually addressable in the RocksDB
  * state store; no timers (callers wanting idle eviction compose a
  * TTLConfig on the state cell — eviction would break equivalence with
  * the full-history batch fold, so the default keeps everything).
  */
object StreamingEwma {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, value: Double)
  case class EwmaState(n: Long, ewma: Double)
  case class EwmaRow(user_id: Long, n_events: Long, ewma: Double)

  /** Event-time in microseconds (ms clock + sub-ms nanos). */
  private def us(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  class Processor extends StatefulProcessor[Long, Event, EwmaRow] {
    @transient private var st: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[EwmaState](
        "ewma", Encoders.product[EwmaState], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[EwmaRow] = {
      val evs = rows.toArray.sortBy(e => (us(e.ts), e.event_id))
      if (evs.isEmpty) return Iterator.empty
      var s = if (st.exists()) st.get() else EwmaState(0L, 0.0)
      for (e <- evs)
        s = if (s.n == 0L) EwmaState(1L, e.value)
            else EwmaState(s.n + 1L, (e.value + s.ewma) * 0.5)
      st.update(s)
      Iterator.single(EwmaRow(key, s.n, s.ewma))
    }
  }

  /** Streaming entry: events parquet stream → typed → transformWithState
    * → per-batch snapshot rows appended to the sink. */
  def run(spark: SparkSession, srcDir: String, sinkDir: String,
          checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    RocksDBState.use(spark)
    val stream = spark.readStream
      .schema(EventStreamPipeline.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[Event]
    stream
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[EwmaRow])
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: Dataset[EwmaRow], _: Long) =>
        batch.write.mode("append").parquet(sinkDir)
      }
      .start()
  }
}
