package graft.perfbench

/** Seeded inputs shared by the workloads. Every workload input that is
  * not a table file (query order, DML and read schedules with their keys
  * and ranges, metadata op schedules) comes from the seed, so the same seed
  * gives the same inputs. */
object Inputs {

  /** Fisher-Yates shuffle driven by `rnd`. */
  def shuffle[A](xs: Seq[A], rnd: java.util.SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** A canonical text of every seed-derived input of a workload (the first
    * `n` operations of its stream), for determinism checks. */
  def describe(workload: String, seed: Long, n: Int = 64): String = workload match {
    case "pipeline_suite" => PipelineSuite.order(seed).mkString("\n")
    case "lakehouse_ingest" => LakehouseIngest.schedule(seed).take(n).mkString("\n")
    case "metadata_scale" => MetadataScale.schedule(seed).take(n).mkString("\n")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
