package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 95) - 3.85) < 1e-12)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 95) == 96.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assert(Stats.median(Nil).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("unionLength counts overlapping intervals once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("trace self time subtracts the part children cover") {
    val t = new Trace(enabled = true)
    t.op("root") {
      t.span("child")(Thread.sleep(30))
      Thread.sleep(20)
    }
    val self = t.selfMs
    val root = t.durationsMs("root").head
    val child = t.durationsMs("child").head
    assert(math.abs(self("root") - (root - child)) < 1e-6)
    assert(self("child") == child)
    assert(t.all.map(_.op).distinct == Seq(1L))
    assert(t.all.find(_.name == "child").get.parent == t.all.find(_.name == "root").get.id)
  }

  test("a disabled trace records nothing") {
    val t = new Trace(enabled = false)
    assert(t.op("root")(t.span("child")(41) + 1) == 42)
    t.add("n", 1)
    assert(t.all.isEmpty && t.json.contains("\"counters\":[]"))
  }

  test("an operation's CPU time counts the threads that ran, not the wall") {
    val (_, idle) = Cpu.metered(Thread.sleep(300))
    assert(idle.ms >= 300.0 && idle.cpuMs < 100.0)
    // a pooled helper thread's spin counts although the measuring thread
    // only waits for it (as Spark's task threads outlive each operation)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val spin: Runnable = () => {
        val end = System.nanoTime() + 300000000L
        while (System.nanoTime() < end) {}
      }
      pool.submit(spin).get()
      val (_, busy) = Cpu.metered(pool.submit(spin).get())
      assert(busy.cpuMs > 150.0 && busy.cpuMs <= busy.ms + 50.0)
    } finally pool.shutdown()
  }

  test("per-kind cost is the geometric mean of each kind's median") {
    val r = new Run(Config("w", 1L, 1, trace = false, null, null, null, 1))
    Seq(1.0, 2.0, 250.0).foreach(v => r.sample("a", Cost(v, v * 2)))
    Seq(8.0, 8.0).foreach(v => r.sample("b", Cost(v, v * 2)))
    assert(math.abs(r.opMs - 4.0) < 1e-9)
    assert(math.abs(r.opCpuMs - 8.0) < 1e-9)
    // the reference kernel runs once per 100 ms of each sample's wall time,
    // at least once; CPU times are scaled by its median over the reference
    assert(r.calibMs.size == 6 && r.calibMs.forall(_ > 0))
    val slow = Stats.median(r.calibMs.toSeq) / Calib.ReferenceMs
    assert(math.abs(r.opNormCpuMs - 8.0 / slow) < 1e-9)
  }
}
