package graft.streaming

import org.apache.spark.sql.{Column, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._

/** The streaming face of the `f12_contract_checks` batch gate — the
  * data-contract checks a 100 TB ingest runs ON THE WAY IN, so a bad
  * batch is counted (and can be quarantined) before it lands in the
  * lake rather than detected by a scan afterwards. Each micro-batch
  * evaluates the row-local contract predicates (accepted values, value
  * range, not-null) and increments a per-check (n_checked,
  * n_violations) counter pair held in `transformWithState`; every
  * batch emits the updated check rows. Referential and uniqueness
  * checks need corpus state and stay in the batch gate — the split
  * mirrors production practice (cheap row-local checks inline,
  * set-membership checks in the nightly audit).
  *
  * Scale: state is bounded by the CHECK domain (3 counter pairs), not
  * event volume; increments are commutative, so arrival order is
  * irrelevant and the counters survive checkpoint restarts.
  */
object StreamingContractGate {

  case class CheckRow(check: String, ok: Long)
  case class Counts(n: Long, violations: Long)
  case class GateRow(check: String, n_checked: Long, n_violations: Long)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The row-local contract checks, by name, in `checkPairs` order. */
  private def checks: Seq[(String, Column)] = Seq(
    "accepted_event_type" -> col("event_type").isin("click", "view", "purchase", "signup", "error"),
    "value_non_negative" -> (col("value") >= 0),
    "not_null_props" -> col("props").isNotNull)

  /** The check names; `checkPairs(i)` holds check `checkNames(i)`. */
  val checkNames: Seq[String] = checks.map(_._1)

  /** The row-local contract checks as (check, ok) pairs — the single
    * source of truth shared by this gate's counters and by composed
    * pipelines (ServingPipeline) that quarantine on the same contract. */
  def checkPairs: Column = array(checks.map { case (name, ok) =>
    struct(lit(name).as("check"), ok.cast("long").as("ok"))
  }: _*)

  class Processor extends StatefulProcessor[String, CheckRow, GateRow] {
    @transient private var st: ValueState[Counts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[Counts](
        "check_counts", Encoders.product[Counts], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[CheckRow],
                                 timers: TimerValues): Iterator[GateRow] = {
      var s = if (st.exists()) st.get() else Counts(0L, 0L)
      rows.foreach { r => s = Counts(s.n + 1, s.violations + (1L - r.ok)) }
      st.update(s)
      Iterator.single(GateRow(key, s.n, s.violations))
    }
  }

  /** Streaming entry: events parquet stream → per-row contract
    * predicates fanned out to one row per check → incremental per-check
    * counters → per-batch snapshot rows. */
  def run(spark: SparkSession, srcDir: String, sinkDir: String,
          checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    RocksDBState.use(spark)
    val stream = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .select(explode(checkPairs).as("c"))
      .select(col("c.check").as("check"), col("c.ok").as("ok"))
      .as[CheckRow]
    stream
      .groupByKey(_.check)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[GateRow])
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .foreachBatch { (batch: Dataset[GateRow], _: Long) =>
        batch.write.mode("append").parquet(sinkDir)
      }
      .start()
  }
}
