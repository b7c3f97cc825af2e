package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Plan-level check of the vertex-broadcast kill switch (BcastGateSpec
  * covers the pure gate). The gate reads SPARK_GRAFT_BCAST_MAX_ROWS once
  * per JVM, so each side runs `graft.Run <query>` with GRAFT_EXPLAIN=1
  * and the audit confs in a child JVM (this JVM's classpath and
  * options) and counts BroadcastExchange in its plan — for q294's
  * Katz rounds and q164's label propagation.
  */
class BcastKillSwitchSpec extends SparkSpec {

  private def broadcastExchanges(query: String, maxRows: Option[String]): Int = {
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-Xmx1g") ++ Harness.auditConfs.map { case (k, v) => s"-D$k=$v" } ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.Run", query, sf0001, "1")
    val log = File.createTempFile("graft_killswitch", ".log")
    try {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
      val env = pb.environment()
      env.put("GRAFT_EXPLAIN", "1")
      env.put("SPARK_GRAFT_CPUS", "2")
      env.remove("SPARK_GRAFT_BCAST_MAX_ROWS")
      maxRows.foreach(env.put("SPARK_GRAFT_BCAST_MAX_ROWS", _))
      val child = pb.start()
      if (!child.waitFor(5, TimeUnit.MINUTES)) {
        child.destroyForcibly()
        fail("child JVM timed out")
      }
      val out = new String(Files.readAllBytes(log.toPath))
      assert(child.exitValue() == 0 && out.contains("== Physical Plan =="), out.takeRight(2000))
      "BroadcastExchange".r.findAllMatchIn(out).size
    } finally log.delete()
  }

  test("SPARK_GRAFT_BCAST_MAX_ROWS=0 removes q294's broadcasts; unset keeps them") {
    for (q <- Seq("q294_katz_centrality", "q164_label_propagation")) {
      val (off, on) = (broadcastExchanges(q, Some("0")), broadcastExchanges(q, None))
      info(s"$q BroadcastExchange mentions: $off with =0, $on unset")
      assert(off == 0, q)
      assert(on > 0, q)
    }
  }
}
