package graft.core

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session factory: every main builds its session through [[Sessions]],
  * so Bench, Verify, the tools and the benchmark run one engine. Sessions
  * are checked in child JVMs — the suite's own JVM already holds the
  * shared test session, which `getOrCreate` would hand back, and Spark's
  * generated-class cache is JVM-wide and sized once, at first codegen. */
class SessionsSpec extends AnyFunSuite {

  /** Run `main` in a child JVM on this JVM's flags and classpath; its
    * stdout's `key=value` lines, grouped by key. */
  private def probe(main: String, heap: String, env: (String, String)*): Map[String, List[String]] = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq(s"-Xmx$heap", "-cp", sys.props("java.class.path"), main)
    val pb = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.mkString("\n"))
    out.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.groupMap(_._1)(_._2)
  }

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
    val conf = probe("graft.core.SessionsProbe", "1g", "SPARK_GRAFT_CPUS" -> "3")
    for ((n, session) <- Seq("2" -> "explicit", "3" -> "env")) {
      def get(k: String) = conf.getOrElse(s"$session.$k", Nil)
      assert(get("spark.master") == List(s"local[$n]"))
      assert(get("spark.sql.shuffle.partitions") == List(n))
      assert(get("spark.sql.session.timeZone") == List("UTC"))
      assert(get("spark.sql.extensions") == List("graft.plans.GraftExtensions"))
      assert(get("spark.sql.legacy.parquet.nanosAsLong") == List("true"))
      assert(get("spark.sql.codegen.cache.maxEntries") == List("1024"))
    }
  }

  test("a warm pass over the iterative queries makes 0 Janino compiles") {
    val out = probe("graft.core.WarmCodegenProbe", "2g")
    def pass(p: String) = out.collect { case (k, v) if k.startsWith(s"$p.") => k -> v.head.toLong }
    assert(pass("cold").values.sum > 0, s"the cold pass compiled nothing, so the count is not observed: $out")
    assert(pass("warm").values.forall(_ == 0), s"warm-pass compiles per query: ${pass("warm")}")
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

/** Child-JVM half of [[SessionsSpec]]'s warm-path check: on a fresh
  * `Sessions.local(2)`, the benchmark's four iterative queries at sf0.001
  * run once cold, then again in another order; prints each query's Janino
  * compiles as `cold.<query>=<n>`, then `warm.<query>=<n>`. */
object WarmCodegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(2)
    val names = Seq("q87_pagerank", "q96_bfs", "q168_entity_resolution", "q183_label_prop")
    def compiles(name: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    names.foreach(q => println(s"cold.$q=${compiles(q)}"))
    new scala.util.Random(7).shuffle(names).foreach(q => println(s"warm.$q=${compiles(q)}"))
    spark.stop()
  }
}
