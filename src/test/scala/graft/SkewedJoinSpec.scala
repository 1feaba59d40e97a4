package graft

import graft.ops.SkewedJoin
import org.apache.spark.sql.functions._

/** Salting changes distribution, never results: the salted join must
  * equal the plain join on a skewed dataset, and the hot key's rows must
  * actually scatter across salt buckets. */
class SkewedJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("salted join equals plain join on a 90%-hot-key dataset") {
    val probe = (1 to 10000).map(i => (if (i <= 9000) 1L else i.toLong, s"row$i"))
      .toDF("k", "payload") // key 1 holds 90% of rows
    val build = Seq((1L, "hot"), (9500L, "cold"), (9999L, "tail")).toDF("bk", "label")

    val plain = probe.join(build, col("k") === col("bk"))
      .groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy("label").collect().toSeq
    val salted = SkewedJoin.saltedInnerJoin(probe, "k", build, "bk", 8)
      .groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy("label").collect().toSeq
    assert(salted == plain)
    assert(plain.map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("hot" -> 9000L, "cold" -> 1L, "tail" -> 1L))
  }

  test("the hot key scatters across multiple salt buckets") {
    val probe = (1 to 5000).map(i => (1L, i)).toDF("k", "v")
    val nBuckets = probe
      .withColumn("__salt", pmod(xxhash64(col("k"), col("v")), lit(8)).cast("int"))
      .select("__salt").distinct().count()
    assert(nBuckets == 8) // all buckets used -> 8-way parallelism on the hot key
  }

  test("j_salted_skew rounds an exact half-cent tie the same way in every plan") {
    // two 'error' events (weight 0.5): 2.82 + 2.995 = 5.815 exactly, a
    // half-cent tie, while the float sum is 5.8149999999999995
    val dir = java.nio.file.Files.createTempDirectory("salted_tie").toString
    Seq((1L, "error", 5.64), (2L, "error", 5.99), (3L, "click", 10.01), (4L, "view", 0.33))
      .toDF("event_id", "event_type", "value")
      .select(col("event_id"), expr("timestamp_micros(1704067200000000)").as("ts"),
        lit(1L).as("user_id"), col("event_type"), col("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val floatForm = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "error")
      .agg(round(sum(lit(0.5) * col("value")), 2)).as[Double].head()
    assert(floatForm == 5.81) // the float form rounds the tie down
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq("1", "8")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val got = graft.queries.QueryRegistry.queries("j_salted_skew")(spark, dir)
          .as[(String, Long, Double)].collect().toSet
        // half away from zero, as DuckDB's and Spark's round do
        assert(got == Set(("error", 2L, 5.82), ("click", 1L, 10.01), ("view", 1L, 0.5)),
          s"shuffle partitions $parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
