package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the broadcast-ceiling derivation (VERDICT r11 next #1): the
  * sizing rule that replaced the OOM-discovered SPARK_GRAFT_BROADCAST_MAX
  * knob. The rule's anchor points are MEASURED: 8 MB was the ceiling that
  * ran the sf10 local-cluster leg clean on 3 GB executor heaps (a <64 MB
  * serialized build side deserializes at 10-20x and killed them), and
  * 64 MB is right for big heaps where shuffle beats any larger broadcast
  * anyway. */
class GraftSessionSpec extends AnyFunSuite {

  test("memory strings parse like spark-submit's") {
    assert(GraftSession.parseMemory("3g") == 3L * 1024 * 1024 * 1024)
    assert(GraftSession.parseMemory("1024m") == 1024L * 1024 * 1024)
    assert(GraftSession.parseMemory("512k") == 512L * 1024)
    assert(GraftSession.parseMemory("123456") == 123456L)
    assert(GraftSession.parseMemory("1.5g") == (1.5 * 1024 * 1024 * 1024).toLong)
  }

  test("derived ceiling reproduces the measured-good sf10 config: 3g heap -> 8 MB") {
    val m = GraftSession.derivedBroadcastMax(3L * 1024 * 1024 * 1024, "local-cluster[2,2,4096]")
    assert(m == 8L * 1024 * 1024)
  }

  test("big heaps cap at 64 MB; Spark-default 1g executors get ~2.7 MB; tiny heaps floor at 1 MB") {
    assert(GraftSession.derivedBroadcastMax(128L * 1024 * 1024 * 1024, "local[32]") == 64L * 1024 * 1024)
    val oneG = GraftSession.derivedBroadcastMax(1L * 1024 * 1024 * 1024, "local-cluster[2,2,1024]")
    assert(oneG == (1L * 1024 * 1024 * 1024) / 384)
    assert(oneG > 2L * 1024 * 1024 && oneG < 3L * 1024 * 1024)
    assert(GraftSession.derivedBroadcastMax(64L * 1024 * 1024, "local[2]") == 1L * 1024 * 1024)
  }

  test("env override still wins and local masters read this JVM's heap") {
    // no SPARK_GRAFT_BROADCAST_MAX in the test env: the derived default
    // must be what broadcastMax reports, and under the in-process test
    // master the executor heap IS this JVM's max heap
    if (sys.env.get("SPARK_GRAFT_BROADCAST_MAX").isEmpty &&
        sys.props.get("spark.executor.memory").isEmpty &&
        sys.env.get("SPARK_EXECUTOR_MEMORY").isEmpty) {
      assert(GraftSession.executorMemoryBytes == Runtime.getRuntime.maxMemory)
      assert(GraftSession.broadcastMax ==
        GraftSession.derivedBroadcastMax(Runtime.getRuntime.maxMemory, GraftSession.master).toString)
    }
  }

  test("SPARK_GRAFT_CONF keeps key=value pairs and reports each malformed segment") {
    val (pairs, dropped) = GraftSession.parseConf(" spark.a = 1;novalue;=x;spark.b=c=d;; ")
    assert(pairs == Seq("spark.a" -> "1", "spark.b" -> "c=d"))
    assert(dropped == Seq("novalue", "=x"))
    assert(GraftSession.parseConf("") == ((Nil, Nil)))
  }
}
