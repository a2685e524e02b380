package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.50))
    assert(Stats.tailPercentile(39).contains(0.50))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(100).contains(0.90))
    assert(Stats.tailPercentile(199).contains(0.90))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(1000).contains(0.99))
    for (n <- 1 to 2000; p <- Stats.tailPercentile(n))
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
  }

  test("nearest-rank percentiles return measured samples") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.median(xs) == 20.0)
    assert(Stats.percentile(xs, 0.75) == 30.0)
    assert(Stats.beyond(40, 0.75) == 10)
    assert(Stats.percentile(Seq(3.0), 0.99) == 3.0)
  }

  test("geometric mean moves by the same share whichever sample changes") {
    assert(math.abs(Stats.geoMean(Seq(2.0, 8.0)) - 4.0) < 1e-12)
    val base = Stats.geoMean(Seq(1.0, 2.0, 4.0))
    assert(math.abs(Stats.geoMean(Seq(0.5, 2.0, 4.0)) / base -
      Stats.geoMean(Seq(1.0, 2.0, 2.0)) / base) < 1e-12)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10, 30), (20, 50))) == 60)
    assert(Stats.selfTime(0, 100, Seq((10, 30), (10, 30))) == 80)
    assert(Stats.selfTime(0, 100, Seq((-20, 10), (90, 150))) == 80)
    assert(Stats.selfTime(0, 100, Seq((20, 40), (60, 80), (30, 70))) == 40)
    assert(Stats.selfTime(0, 100, Seq((0, 100), (10, 20))) == 0)
    assert(Stats.unionLength(Seq((0, 10), (5, 15), (20, 25))) == 20)
  }

  test("tracer nests spans and computes self time from its children") {
    val t = new Tracer(enabled = true)
    t.beginOp()
    t.span("op") { t.span("a")(Thread.sleep(20)); t.span("b")(Thread.sleep(20)) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("a").parent == byName("op").id && byName("b").parent == byName("op").id)
    val self = t.selfTimes(byName("op").id)
    assert(self >= 0 && self < byName("op").durNs - byName("a").durNs - byName("b").durNs + 1)
    assert(new Tracer(enabled = false).span("x")(42) == 42)
  }

  test("listener metrics stay with the job group of the operation that ran them") {
    val spark = SparkSession.builder().master("local[2]").appName("helpers")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val l = new GroupListener
      sc.addSparkListener(l)
      sc.setJobGroup("op-a", "a")
      sc.parallelize(1 to 100, 3).map(_ * 2).count()
      sc.setJobGroup("op-b", "b")
      sc.parallelize(1 to 100, 5).count()
      sc.parallelize(1 to 100, 5).count()
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 2).count()
      org.apache.spark.PerfbenchBus.drain(sc)
      val a = l.take("op-a")
      val b = l.take("op-b")
      assert(a.jobs == 1 && a.tasks == 3 && a.stages == 1)
      assert(b.jobs == 2 && b.tasks == 10 && b.stages == 2)
      assert(a.jobMs >= 0 && b.jobIntervals.size == 2)
      assert(l.take(GroupListener.Unscoped).tasks == 2)
      // taking a group removes it, so a later operation starts from zero
      assert(l.take("op-a").tasks == 0)
    } finally spark.stop()
  }
}
