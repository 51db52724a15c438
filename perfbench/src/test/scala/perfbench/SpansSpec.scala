package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("union length merges overlaps and clips to the window") {
    assert(Spans.unionLength(Seq((10.0, 30.0), (20.0, 40.0), (90.0, 120.0)), 0, 100) == 40.0)
    assert(Spans.unionLength(Seq((5.0, 6.0), (5.0, 6.0)), 0, 100) == 1.0)
    assert(Spans.unionLength(Seq((200.0, 300.0)), 0, 100) == 0.0)
    assert(Spans.unionLength(Nil, 0, 100) == 0.0)
  }

  test("self time on a synthetic op → call → job tree") {
    // op [0, 100] with two calls; call A [0, 60] ran jobs [5, 25] and
    // [20, 50] (overlapping); call B [60, 100] ran job [70, 80]
    val op = Span(1, -1, "op", 0, 100)
    val a = Span(2, 1, "A", 0, 60)
    val b = Span(3, 1, "B", 60, 100)
    val jobsA = Seq(Span(10, 2, "Dedup", 5, 25), Span(11, 2, "Dedup", 20, 50))
    val jobsB = Seq(Span(12, 3, "CleanPipeline", 70, 80))
    assert(Spans.selfTimeMs(a, jobsA) == 15.0)
    assert(Spans.selfTimeMs(b, jobsB) == 30.0)
    // the op's self time counts every job below it once
    assert(Spans.selfTimeMs(op, jobsA ++ jobsB) == 45.0)
    // the op's self time is the sum of its calls' self times when the
    // calls tile the op
    assert(Spans.selfTimeMs(op, jobsA ++ jobsB) ==
      Spans.selfTimeMs(a, jobsA) + Spans.selfTimeMs(b, jobsB))
  }

  test("a job that outlives its span counts only inside the span") {
    val s = Span(1, -1, "op", 0, 10)
    assert(Spans.selfTimeMs(s, Seq(Span(2, 1, "RddOps", 8, 15))) == 8.0)
  }

  test("call-site files are read from Spark's short call sites") {
    assert(JobListener.siteFile("treeAggregate at RddOps.scala:113") == "RddOps")
    assert(JobListener.siteFile("count at Dedup.scala:1383") == "Dedup")
    assert(JobListener.siteFile("run at ThreadPoolExecutor.java:1136") == "ThreadPoolExecutor")
    assert(JobListener.siteFile("a user-set description") == "")
  }
}
