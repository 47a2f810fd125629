package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local SparkSession per suite. */
abstract class GraftSpec extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSpec.session

  GraftSpec.watchSbt
}

object GraftSpec {
  /** Threads (and shuffle partitions) of this JVM's session: build.sbt
    * splits the machine's cores across its parallel test groups and
    * passes each group its share, at least 4; a JVM started outside
    * those groups runs local[4].
    */
  private val cores = sys.props.get("graft.test.cores").map(_.toInt)
    .getOrElse(4)

  /** A forked test JVM exits once the sbt process that forked it
    * (`graft.test.sbtPid`, passed by build.sbt) is gone. Without this,
    * killing sbt (as the Tier-1 `timeout` does, ending with a
    * `kill -9`) left its group JVMs running their suites to the end
    * with their full heaps. A daemon thread polls the pid's handle
    * (start-time checked, so a reused pid does not count as alive);
    * shutdown hooks get 10 s before the JVM halts.
    */
  lazy val watchSbt: Unit =
    sys.props.get("graft.test.sbtPid").foreach { pid =>
      val sbt = ProcessHandle.of(pid.toLong)
      val t = new Thread(() => {
        while (sbt.isPresent && sbt.get.isAlive) Thread.sleep(1000)
        val halt = new Thread(() => {
          Thread.sleep(10000)
          Runtime.getRuntime.halt(1)
        })
        halt.setDaemon(true)
        halt.start()
        System.exit(1)
      }, "graft-sbt-watch")
      t.setDaemon(true)
      t.start()
    }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // build.sbt's parallel test groups put several such sessions on
      // the box at once; a co-tenant stall that starves the local
      // executor's heartbeat for >120 s must not kill a whole group's
      // JVM (measured: one group died exactly that way on a contended
      // host — "no recent heartbeats: 130102 ms exceeds 120000 ms")
      .config("spark.network.timeout", "600s")
      // every action renders its plan into the SQLExecution listener
      // event, capped only by this conf's ~2 GB default — the deep
      // iterative cell-build plans render hundreds of MB of throwaway
      // string per action (UI is off!), which both burns driver time
      // and OOM'd AnnPackSpec's group at 16 g inside
      // QueryExecution.explainString. Truncation only affects debug
      // strings, never results.
      .config("spark.sql.maxPlanStringLength", (16 * 1024 * 1024).toString)
      // the Bench session's floor (see Bench.scala): AQE's BYTES-based
      // partition coalescing collapses compute-dense, byte-light
      // shuffle stages (candidate-pair verification over planted
      // vector corpora) to ONE partition — the AnnPackSpec mass test
      // ran 26+ min single-threaded under the default
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64KB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
