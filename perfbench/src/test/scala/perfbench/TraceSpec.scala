package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-trace-spec")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val ms = 1000000L

  test("self time is the span minus what its children cover") {
    val root = Span(1, 1, 0, "op", 0, 100 * ms)
    val spans = Seq(root,
      Span(2, 1, 1, "a", 10 * ms, 40 * ms),
      Span(3, 1, 1, "b", 30 * ms, 60 * ms), // overlaps a
      Span(4, 1, 2, "a.inner", 15 * ms, 20 * ms), // grandchild: not root's child
      Span(5, 2, 0, "other", 0, 100 * ms))
    assert(Tracer.selfMs(root, spans) == 50.0)
    assert(Tracer.selfMs(spans(1), spans) == 25.0)
    assert(Tracer.selfMs(spans(4), spans) == 100.0)
  }

  test("jobs go to their span, batch jobs to the matching micro-batch span") {
    val spans = Seq(Span(1, 1, 0, "op", 0, 100 * ms),
      Span(2, 1, 1, "call", 0, 100 * ms),
      Span(3, 1, 2, "batch", 10 * ms, 50 * ms, Some(7L)),
      Span(4, 1, 2, "batch", 50 * ms, 90 * ms, Some(8L)))
    def job(id: Int, span: Option[Long], batch: Option[Long], s: Long, e: Long, tasks: Long) = {
      val j = new JobStats(id, span, batch, s)
      j.endMs = e; j.tasks = tasks; j.taskMs = 10 * tasks
      j
    }
    val jobs = Seq(job(0, Some(2), None, 0, 5, 1), job(1, Some(2), Some(7), 20, 30, 4),
      job(2, Some(2), Some(8), 60, 80, 2), job(3, Some(2), Some(9), 90, 95, 8),
      job(4, None, None, 0, 100, 100))
    assert(Tracer.owner(spans, jobs(1)).contains(3L))
    assert(Tracer.owner(spans, jobs(2)).contains(4L))
    assert(Tracer.owner(spans, jobs(3)).contains(2L), "no span for batch 9: the call keeps it")
    assert(Tracer.owner(spans, jobs(4)).isEmpty)
    val c = Tracer.counters(spans, jobs)
    assert(c(3) == SpanCounters(1, 4, 40, 0, 0, 0, 0, 30.0))
    assert(Tracer.counters(spans, Seq(new JobStats(5, Some(2), None, 0, Some(11L)),
      new JobStats(6, Some(2), None, 0, Some(11L)), new JobStats(7, Some(2), None, 0, Some(12L)),
      new JobStats(8, Some(2), None, 0)))(2).sqlExecutions == 2)
    assert(c(4).jobs == 1 && c(4).tasks == 2)
    // the call's subtree: its own two jobs plus both batches'
    assert(c(2).jobs == 4 && c(2).tasks == 15)
    // driver time: 100 ms minus the union of [0,5) [20,30) [60,80) [90,95)
    assert(c(2).driverMs == 60.0)
    assert(c(1) == c(2).copy(driverMs = c(1).driverMs) && c(1).driverMs == 60.0)
  }

  test("a live listener attributes jobs by the span property, across threads") {
    val tracer = new Tracer(spark, enabled = true)
    val sc = spark.sparkContext
    tracer.op("op") {
      tracer.call("first")(sc.parallelize(1 to 100, 4).count())
      tracer.call("second") {
        sc.parallelize(1 to 10, 2).map(_ * 2).collect()
        // a thread started inside the span inherits the property, as a
        // streaming query's execution thread does
        val t = new Thread(() => { sc.parallelize(1 to 10, 3).count(); () })
        t.start(); t.join()
      }
    }
    sc.parallelize(1 to 10, 5).count() // outside every span
    tracer.settle()
    val spans = tracer.allSpans
    val c = tracer.counters()
    def named(n: String) = spans.find(_.name == n).get
    assert(c(named("first").id).jobs == 1 && c(named("first").id).tasks == 4)
    assert(c(named("second").id).jobs == 2 && c(named("second").id).tasks == 5)
    assert(c(named("op").id).jobs == 3 && c(named("op").id).tasks == 9)
    assert(named("first").parent == named("op").id)
    assert(named("first").traceId == named("op").traceId)
    assert(sc.getLocalProperty(Tracer.SpanKey) == null, "property restored after the op")
    // a DataFrame action is one SQL execution, attributed like its jobs
    tracer.op("sql")(tracer.call("df")(spark.range(100).selectExpr("sum(id)").collect()))
    tracer.settle()
    val df = tracer.allSpans.find(_.name == "df").get
    assert(tracer.counters()(df.id).sqlExecutions == 1)
  }

  test("a disabled tracer records nothing and sets no property") {
    val tracer = new Tracer(spark, enabled = false)
    val sc = spark.sparkContext
    tracer.op("op")(tracer.call("c") {
      assert(sc.getLocalProperty(Tracer.SpanKey) == null)
      sc.parallelize(1 to 3).count()
    })
    assert(tracer.allSpans.isEmpty)
  }
}
