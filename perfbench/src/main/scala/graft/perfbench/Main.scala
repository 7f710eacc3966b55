package graft.perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JVM side of the benchmark: runs one workload and writes its result
  * document. `perfbench/run.py` builds this, checks the result dumps
  * against DuckDB and prints the final line.
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE --cpus N
  */
object Main {

  val Workloads: Map[String, Run => Unit] = Map(
    "pipeline_suite" -> PipelineSuite.run,
    "lakehouse_ingest" -> LakehouseIngest.run,
    "metadata_scale" -> MetadataScale.run)

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toInt,
      trace = a("trace") == "1", data = Paths.get(a("data")), work = Paths.get(a("work")),
      out = Paths.get(a("out")), cpus = a("cpus").toInt)
    val body = Workloads.getOrElse(cfg.workload,
      throw new IllegalArgumentException(s"unknown workload ${cfg.workload}"))
    val host = new HostStamp(cfg.cpus)
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val r = new Run(cfg)
    body(r)
    Files.writeString(cfg.out, JsonMethods.compact(JsonMethods.render(result(r, host,
      Jvm.gcMs - gc0, Jvm.jitMs - jit0))))
    if (cfg.trace) Files.writeString(cfg.work.resolve("trace.json"), r.trace.json)
  }

  private def result(r: Run, host: HostStamp, gcMs: Long, jitMs: Long): JValue = {
    val lat = r.samples.map(_._2.ms).toSeq
    val endToEnd = Map(
      "setup_s" -> r.setupNormS,
      "op_norm_cpu_ms" -> r.opNormCpuMs,
      "retained_heap_mb" -> r.retainedHeapMb)
    val perLayer =
      if (!r.cfg.trace) Map.empty[String, Double]
      else r.layerMetrics ++ Map(
        "jvm.gc_ms" -> gcMs.toDouble, "jvm.jit_ms" -> jitMs.toDouble,
        "jvm.heap_after_gc_mb" -> r.heapAfterSetupMb,
        "op_p50_ms" -> Stats.percentile(lat, 50),
        "op_p95_ms" -> Stats.percentile(lat, 95),
        "trace.op_ms" -> r.opMs,
        "trace.op_cpu_ms" -> r.opCpuMs,
        "trace.op_norm_cpu_ms" -> r.opNormCpuMs,
        "host.calib_ms" -> Stats.median(r.calibMs.toSeq),
        "trace.overhead_ms" -> Stats.median(r.trace.all.filter(s => s.name == "trace.drain" && s.op >= r.firstMeasuredOp)
          .groupBy(_.op).values.map(_.map(_.ms).sum).toSeq))
    def obj(m: Map[String, Any]): JObject = JObject(m.toList.sortBy(_._1).map {
      case (k, v: Double) => k -> (if (v.isNaN || v.isInfinite) JNull else JDouble(v))
      case (k, v: Int) => k -> JLong(v.toLong)
      case (k, v: Long) => k -> JLong(v)
      case (k, v: Boolean) => k -> JBool(v)
      case (k, v) => k -> JString(v.toString)
    })
    JObject(
      "workload" -> JString(r.cfg.workload), "seed" -> JLong(r.cfg.seed),
      "attempted" -> JLong(r.attempted.toLong), "failed" -> JLong(r.failed.toLong),
      "failures" -> JArray(r.failures.map(JString(_)).toList),
      "samples" -> JLong(lat.size.toLong), "measured_s" -> JDouble(r.measuredS),
      "op_ms" -> JDouble(r.opMs),
      "op_cpu_ms" -> JDouble(r.opCpuMs),
      "calib_ms" -> JDouble(Stats.median(r.calibMs.toSeq)),
      "kinds" -> JObject(r.samples.groupBy(_._1).toList.sortBy(_._1).map { case (k, s) =>
        k -> JDouble(Stats.median(s.map(_._2.cpuMs).toSeq)) }),
      "setup_cpu_s" -> JArray(r.setupSamples.map(c => JDouble(c.cpuMs / 1000.0)).toList),
      "setup_wall_s" -> JArray(r.setupSamples.map(c => JDouble(c.ms / 1000.0)).toList),
      "metrics" -> obj(if (r.cfg.trace) perLayer else endToEnd),
      "end_to_end" -> obj(endToEnd),
      "host" -> obj(host.finish()),
      "checks" -> JArray(r.checkFiles.map(p => JString(p.toString)).toList))
  }
}
