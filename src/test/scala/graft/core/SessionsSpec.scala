package graft.core

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session factory: every main builds its session through [[Sessions]],
  * so Bench, Verify, the tools and the benchmark run one engine. The
  * session is checked in a child JVM — the suite's own JVM already holds
  * the shared test session, which `getOrCreate` would hand back. */
class SessionsSpec extends AnyFunSuite {

  test("no SparkSession.builder under src/main/scala outside core/Sessions.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "core", "Sessions.scala")))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toList
    assert(offenders.isEmpty, s"build sessions with graft.core.Sessions: $offenders")
  }

  test("Sessions.local(n) sets shuffle partitions = n, UTC, GraftExtensions and " +
      "nanosAsLong; Sessions.local() takes n from SPARK_GRAFT_CPUS") {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.core.SessionsProbe")
    val pb = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD)
    pb.environment().put("SPARK_GRAFT_CPUS", "3")
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.mkString("\n"))
    val conf = out.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
      .groupMap(_._1)(_._2)
    for ((n, session) <- Seq("2" -> "explicit", "3" -> "env")) {
      def get(k: String) = conf.getOrElse(s"$session.$k", Nil)
      assert(get("spark.master") == List(s"local[$n]"))
      assert(get("spark.sql.shuffle.partitions") == List(n))
      assert(get("spark.sql.session.timeZone") == List("UTC"))
      assert(get("spark.sql.extensions") == List("graft.plans.GraftExtensions"))
      assert(get("spark.sql.legacy.parquet.nanosAsLong") == List("true"))
    }
  }
}

/** Child-JVM half of [[SessionsSpec]]: prints `<session>.<key>=<value>` for
  * `Sessions.local(2)`, then for `Sessions.local()`. */
object SessionsProbe {
  def main(args: Array[String]): Unit = {
    for ((session, make) <- Seq[(String, () => org.apache.spark.sql.SparkSession)](
        "explicit" -> (() => Sessions.local(2)), "env" -> (() => Sessions.local()))) {
      val spark = make()
      spark.conf.getAll.toSeq.sorted.foreach { case (k, v) => println(s"$session.$k=$v") }
      spark.stop()
    }
  }
}
