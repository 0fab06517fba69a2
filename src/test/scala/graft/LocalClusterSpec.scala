package graft

import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM execution gate, CI-runnable: forks
  * [[graft.tools.ClusterProbe]] as its own process (it cannot share this
  * suite's `local[*]` SparkContext — the probe owns a
  * `local-cluster[2,4,1536]` master whose workers fork REAL executor
  * JVMs), and asserts the full slice is identical across the process
  * boundary. This is the one failure class `local[*]` can never surface:
  * closure serialization, typed-Aggregator encoder buffers crossing
  * partial-agg serialization, native-kernel reference objects compiled on
  * executor side, broadcast materialization over RPC, DSv2 partition
  * planning serde.
  *
  * The fork inherits this JVM's full classpath (sbt forked tests put it
  * on java.class.path), which the probe propagates to executors via
  * spark.executor.extraClassPath — the same shape as shipping the
  * application jar on a real cluster.
  */
class LocalClusterSpec extends AnyFunSuite {

  test("representative query slice is identical under local-cluster[2,4] (real executor JVMs)") {
    import scala.sys.process._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val rt = java.nio.file.Files.createTempDirectory("graft-probe-rt-").toString
    val cmd = Seq(javaBin) ++ GraftSession.addOpens ++ Seq(
      "-Xmx4g",
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp,
      "graft.tools.ClusterProbe", "/root/testdata/sf0.001")
    val env = Seq(
      "SPARK_HOME" -> "/opt/spark",
      "SPARK_SCALA_VERSION" -> "2.13",
      "GRAFT_ROUNDTRIP_DIR" -> rt)
    val out = new StringBuilder
    val code = Process(cmd, None, env: _*)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    val probeLines = out.toString.linesIterator.filter(_.startsWith("[probe]")).mkString("\n")
    assert(code === 0, s"ClusterProbe exited $code:\n$probeLines")
    assert(
      probeLines.contains(s"${graft.tools.ClusterProbe.slice.size}/" +
        s"${graft.tools.ClusterProbe.slice.size} queries identical across JVM boundaries"),
      s"probe slice incomplete:\n$probeLines")
  }
}
