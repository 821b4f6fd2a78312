package org.apache.spark {
  /** The listener bus and the local-property table are `private[spark]`;
    * the spec counts the one and copies the other. */
  object TraceSpecShim {
    def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
    def properties(sc: SparkContext): java.util.Properties =
      sc.getLocalProperties.clone().asInstanceOf[java.util.Properties]
  }
}

package graft.core {

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier
import org.apache.spark.TraceSpecShim
import scala.jdk.CollectionConverters._

class TraceSpec extends SparkSpec {

  /** `n` jobs of one stage each. */
  private def jobs(n: Int): Unit = (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 10, 2).count())

  test("nested spans attribute each job to the innermost span") {
    val (_, r) = Trace.collect(spark) {
      jobs(1)
      Trace.span("outer") {
        jobs(2)
        Trace.span("inner") { jobs(3); Trace.attr("k", 7L) }
        Trace.attr("decision", "broadcast")
      }
    }
    val Seq(root, outer, inner) = r.spans
    assert(outer.parent == root.id && inner.parent == outer.id)
    assert((root.selfJobs, outer.selfJobs, inner.selfJobs) == ((1, 2, 3)))
    assert((root.jobs.size, outer.jobs.size, inner.jobs.size) == ((6, 5, 3)))
    assert(inner.attrs == Seq("k" -> 7L) && outer.attrs == Seq("decision" -> "broadcast"))
    assert(root.jobs.map(_.tasks).sum == root.tasks && root.stages >= 6)
    assert(inner.json.contains(""""attrs":{"k":7}"""))
  }

  test("jobs from Par.all workers land in the caller's span") {
    val (_, r) = Trace.collect(spark) {
      Trace.span("fan") { Par.all(3)((1 to 3).map(i => () => jobs(i))) }
    }
    val fan = r.spans.find(_.name == "fan").get
    assert(fan.selfJobs == 6 && r.root.selfJobs == 0 && r.unattributed == 0)
  }

  test("two threads with their own spans do not mix") {
    val (_, r) = Trace.collect(spark) {
      val barrier = new CyclicBarrier(2)
      val threads = Seq("a" -> 2, "b" -> 4).map { case (name, n) =>
        new Thread(() => Trace.span(name) { barrier.await(); jobs(n) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    val byName = r.spans.map(s => s.name -> s).toMap
    assert(byName("a").selfJobs == 2 && byName("b").selfJobs == 4)
    assert(byName("a").parent == r.root.id && byName("b").parent == r.root.id)
    assert(r.root.jobs.size == 6)
  }

  test("every job the listener saw belongs to some span") {
    var r: Trace.Report = null
    val seen = jobsDuring {
      r = Trace.collect(spark) {
        jobs(2)
        Trace.span("s") { jobs(1); Par.all(2)(Seq(() => jobs(1), () => jobs(1))) }
      }._2
    }
    assert(r.unattributed == 0)
    assert(r.root.jobs.size == seen && seen == 5)
    assert(r.spans.map(_.selfJobs).sum == seen)
  }

  test("with no trace open, span leaves local properties unchanged, adds no " +
      "listener and never calls explain") {
    val sc = spark.sparkContext
    def pageRank() = graft.ops.Graph.pageRank(
      spark.range(4).selectExpr("id AS src", "(id + 1) % 4 AS dst"), iters = 1).count()
    pageRank() // Spark registers some of its own listeners on first use
    val props = TraceSpecShim.properties(sc)
    val listeners = TraceSpecShim.listeners(sc)
    var explained = false
    val inside = Trace.span("off") {
      Trace.attr("plan", { explained = true; "plan" })
      // the graph operators' round spans and plan attributes take the same path
      pageRank()
      (TraceSpecShim.properties(sc), TraceSpecShim.listeners(sc))
    }
    assert(inside == ((props, listeners)))
    assert(TraceSpecShim.properties(sc) == props && TraceSpecShim.listeners(sc) == listeners)
    assert(!explained)
  }

  test("listener, job-group, description and local-property calls live only in " +
      "core/Trace.scala, and no main code reads a graft.* system property") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val calls = Seq("addSparkListener", "setJobGroup", "setJobDescription", "setLocalProperty")
    val sysProp = """(sys\.props|System\.getProperty)\S*\("graft\.""".r
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val src = Files.readString(p)
        (!p.endsWith(Paths.get("graft", "core", "Trace.scala")) && calls.exists(src.contains)) ||
          sysProp.findFirstIn(src).nonEmpty
      }
      .map(root.relativize(_).toString).toList.sorted
    assert(offenders.isEmpty, s"trace through graft.core.Trace: $offenders")
  }
}
}
