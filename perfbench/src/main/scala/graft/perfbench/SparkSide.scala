package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._

/** Session construction and the traced-run instrumentation shared by the
  * two Spark workloads. */
object SparkSide {

  /** The engine's session shape: local[N] with N cores, N shuffle
    * partitions, the engine's shared tuning, and the lakehouse catalog
    * registered as `lh` over `warehouse`. */
  def session(cfg: Config, warehouse: Path): SparkSession = {
    val spark = graft.SessionTuning(SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cfg.work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.lh", "graft.catalog.LakehouseCatalog")
      .config("spark.sql.catalog.lh.warehouse", warehouse.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A result row as JSON values, for the out-of-process oracle check.
    * Doubles keep every digit; decimals, dates and timestamps go as text. */
  def rowJson(r: Row): JArray = JArray(r.toSeq.map(valueJson).toList)

  private def valueJson(v: Any): JValue = v match {
    case null => JNull
    case d: Double if d.isNaN || d.isInfinite => JString(d.toString)
    case d: Double => JDouble(d)
    case f: Float if f.isNaN || f.isInfinite => JString(f.toString)
    case f: Float => JDouble(f.toDouble)
    case l: Long => JLong(l)
    case i: Int => JLong(i.toLong)
    case s: Short => JLong(s.toLong)
    case b: Byte => JLong(b.toLong)
    case b: Boolean => JBool(b)
    case s: String => JString(s)
    case d: java.math.BigDecimal => JString(d.toPlainString)
    case d: java.sql.Date => JString(d.toLocalDate.toString)
    case d: java.time.LocalDate => JString(d.toString)
    case t: java.sql.Timestamp => JString(tsText(t.toInstant))
    case t: java.time.Instant => JString(tsText(t))
    case t: java.time.LocalDateTime => JString(tsText(t.toInstant(java.time.ZoneOffset.UTC)))
    case r: Row => rowJson(r)
    case s: scala.collection.Seq[_] => JArray(s.map(valueJson).toList)
    case a: Array[_] => JArray(a.map(valueJson).toList)
    case other => JString(other.toString)
  }

  /** Timestamps as Python renders a naive datetime. */
  private def tsText(i: java.time.Instant): String = {
    val t = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    val base = t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    if (t.getNano == 0) base else f"$base.${t.getNano / 1000}%06d"
  }

  /** Order-sensitive digest of a result, for pass-to-pass comparison. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Traced-run instrumentation around one Spark operation: the planning
  * phases from `QueryExecution.tracker` and the execution accounting of
  * the benchmark's listener. A no-op in the untraced run. */
final class SparkProbe(spark: SparkSession, r: Run) {
  private val listener: Option[ExecListener] =
    if (r.cfg.trace) Some(new ExecListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  private var opStartMs = 0L

  /** Mark the start of an operation (drops events from before it). */
  def begin(): Unit = listener.foreach { l =>
    r.trace.span("trace.drain")(l.take(spark.sparkContext))
    opStartMs = System.currentTimeMillis()
  }

  /** Close the operation: record plan phases of `df` (when given) and the
    * exec.* values; return the accounting for workload-specific layers. */
  def end(df: Option[DataFrame]): Option[ExecAcc] = listener.map { l =>
    val opEndMs = System.currentTimeMillis()
    val acc = r.trace.span("trace.drain")(l.take(spark.sparkContext))
    acc.opStartMs = opStartMs
    acc.opEndMs = opEndMs
    df.foreach(planPhases)
    val wallMs = (opEndMs - opStartMs).max(1L).toDouble
    r.layer("exec.jobs", acc.jobs)
    r.layer("exec.stages", acc.stages)
    r.layer("exec.tasks", acc.tasks)
    r.layer("exec.task_run_ms", acc.taskRunMs)
    r.layer("exec.task_cpu_ms", acc.taskCpuNs / 1e6)
    r.layer("exec.gc_ms", acc.gcMs)
    r.layer("exec.shuffle_write_bytes", acc.shuffleWriteBytes)
    r.layer("exec.shuffle_read_bytes", acc.shuffleReadBytes)
    r.layer("exec.spill_bytes", acc.spillBytes)
    r.layer("exec.cpu_per_wall", acc.taskCpuNs / 1e6 / wallMs)
    r.layer("exec.schedule_ms", acc.scheduleMs(opStartMs, opEndMs))
    // stage spans as children of the op span, on the trace's clock
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    acc.stageSpans.foreach { case (a, b) =>
      r.trace.record("spark.stage", a * 1000000L + offsetNs, b * 1000000L + offsetNs) }
    acc
  }

  private def planPhases(df: DataFrame): Unit = {
    val phases = df.queryExecution.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    r.layer("plan.analysis_ms", ms("analysis"))
    r.layer("plan.optimization_ms", ms("optimization"))
    r.layer("plan.physical_ms", ms("planning"))
  }
}
