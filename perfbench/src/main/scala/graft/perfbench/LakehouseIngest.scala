package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.{FileSkipping, Fs, IcebergRestService, TableMetadata}

/** `lakehouse_ingest`: writes beside reads across 16 mirrored tables —
  * twice the engine's 8-entry render and resolved-metadata caches, so
  * most operations meet a cold predecessor. A seed-drawn stream of small
  * INSERT appends, MERGE INTO upserts by key, DELETE by key range, key
  * lookups and key-range aggregates; each commit is followed by a REST
  * `loadTable` against an in-process IcebergRestService, with a table
  * listing every fourth commit.
  *
  * The commit path, the Parquet write, the Iceberg mirror export, the
  * REST service and catalog planning of reads under ingest do the work. */
object LakehouseIngest {

  val Ns = "bench.ingest"
  val TableCount = 16
  val InitialRows = 1000
  val Cycle = Seq("append", "append", "merge", "delete", "lookup", "range_agg")
  val Writes = Set("append", "merge", "delete")
  /** Unmeasured cycles before the window. Latencies still fall through the
    * third cycle on a 4-core host (JIT and codegen of the MERGE, DELETE
    * and read plans), so the window starts after the fourth. */
  val WarmupCycles = 4

  def table(i: Int): String = f"t$i%02d"

  final case class Rec(grp: Int, cents: Long, note: String)

  sealed trait Op { def table: Int; def kind: String }
  final case class Append(table: Int, rows: Seq[(Long, Rec)]) extends Op { def kind = "append" }
  final case class Merge(table: Int, rows: Seq[(Long, Rec)]) extends Op { def kind = "merge" }
  final case class Delete(table: Int, lo: Long, hi: Long) extends Op { def kind = "delete" }
  final case class Lookup(table: Int, key: Long) extends Op { def kind = "lookup" }
  final case class RangeAgg(table: Int, lo: Long, hi: Long) extends Op { def kind = "range_agg" }

  /** Client-side model of every table: live rows by key. */
  final class Model {
    val rows: Array[java.util.TreeMap[Long, Rec]] = Array.tabulate(TableCount) { _ =>
      val m = new java.util.TreeMap[Long, Rec]()
      (0L until InitialRows.toLong).foreach(id => m.put(id, initial(id)))
      m
    }
    val nextId: Array[Long] = Array.fill(TableCount)(InitialRows.toLong)

    def apply(op: Op): Unit = op match {
      case Append(t, rs) => rs.foreach { case (id, r) => rows(t).put(id, r) }
      case Merge(t, rs) => rs.foreach { case (id, r) => rows(t).put(id, r) }
      case Delete(t, lo, hi) => rows(t).subMap(lo, hi).clear()
      case _ =>
    }

    /** The expected answer of a read, as the engine returns it. */
    def answer(op: Op): Seq[Any] = op match {
      case Lookup(t, k) => Option(rows(t).get(k)).toSeq.flatMap(x => Seq(k, x.grp, x.cents / 100.0, x.note))
      case RangeAgg(t, lo, hi) =>
        val m = rows(t).subMap(lo, hi)
        var keys = 0L
        var cents = 0L
        m.forEach((k, v) => { keys += k; cents += v.cents })
        Seq(m.size.toLong, keys, cents)
      case _ => Nil
    }

    def count(t: Int): Long = rows(t).size.toLong
    def keySum(t: Int): Long = { var s = 0L; rows(t).keySet.forEach(k => s += k); s }
    def centsSum(t: Int): Long = { var s = 0L; rows(t).values.forEach(r => s += r.cents); s }
  }

  def initial(id: Long): Rec = Rec((id % 7).toInt, (id * 37) % 100000, s"n$id")

  /** The seed's DML stream; keys for upserts and deletes are drawn from the
    * rows the stream itself has left live. */
  def schedule(seed: Long): Iterator[Op] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x1a9e57L)
    val model = new Model
    def rec(): Rec = Rec(rnd.nextInt(7), rnd.nextLong(100000), s"s${rnd.nextInt(1000000)}")
    def fresh(t: Int, n: Int): Seq[(Long, Rec)] = (0 until n).map { _ =>
      val id = model.nextId(t); model.nextId(t) += 1; (id, rec())
    }
    def liveKey(t: Int): Long = {
      val m = model.rows(t)
      Option(m.ceilingEntry(rnd.nextLong(model.nextId(t)))).map(_.getKey).getOrElse(m.firstKey())
    }
    Iterator.continually(Inputs.shuffle(Cycle, rnd)).flatten.map { kind =>
      val t = rnd.nextInt(TableCount)
      val op = kind match {
        case "append" => Append(t, fresh(t, 20))
        case "merge" =>
          val upd = Seq.fill(5)(liveKey(t)).distinct.map(k => (k, rec()))
          Merge(t, upd ++ fresh(t, 5))
        case "delete" =>
          val lo = liveKey(t)
          Delete(t, lo, lo + 10)
        case "lookup" => Lookup(t, rnd.nextLong(model.nextId(t)))
        case _ =>
          val lo = rnd.nextLong(model.nextId(t))
          RangeAgg(t, lo, lo + 200)
      }
      model(op)
      op
    }
  }

  private val schema = StructType(Seq(StructField("id", LongType), StructField("grp", IntegerType),
    StructField("val", DoubleType), StructField("note", StringType)))

  private def rowOf(id: Long, r: Rec): Row = Row(id, r.grp, r.cents / 100.0, r.note)

  /** Filters a read pushes to the catalog, for the traced run's probes. */
  private def filtersOf(op: Op): Seq[org.apache.spark.sql.sources.Filter] = op match {
    case Lookup(_, k) => Seq(org.apache.spark.sql.sources.EqualTo("id", k))
    case RangeAgg(_, lo, hi) => Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("id", lo),
      org.apache.spark.sql.sources.LessThan("id", hi))
    case _ => Nil
  }

  /** Bytes the user asked to write: the rows' fixed-width payload. */
  private def userBytes(rows: Seq[(Long, Rec)]): Double =
    rows.map { case (_, r) => 8 + 4 + 8 + r.note.length }.sum.toDouble

  private def sqlOf(op: Op): String = {
    val t = s"lh.$Ns.${table(op.table)}"
    op match {
      case Append(_, rs) =>
        s"INSERT INTO $t VALUES " + rs.map { case (id, r) =>
          s"($id, ${r.grp}, CAST(${r.cents / 100.0} AS DOUBLE), '${r.note}')" }.mkString(", ")
      case Merge(_, _) =>
        s"""MERGE INTO $t t USING ingest_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET t.grp = s.grp, t.val = s.val, t.note = s.note
           |WHEN NOT MATCHED THEN INSERT (id, grp, val, note) VALUES (s.id, s.grp, s.val, s.note)""".stripMargin
      case Delete(_, lo, hi) => s"DELETE FROM $t WHERE id >= $lo AND id < $hi"
      case Lookup(_, k) => s"SELECT id, grp, val, note FROM $t WHERE id = $k"
      case RangeAgg(_, lo, hi) =>
        s"SELECT COUNT(*), COALESCE(SUM(id), 0), " +
          s"COALESCE(CAST(SUM(CAST(val AS DECIMAL(18,2))) * 100 AS BIGINT), 0) " +
          s"FROM $t WHERE id >= $lo AND id < $hi"
    }
  }

  def setup(spark: SparkSession): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lh.bench")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS lh.$Ns")
    spark.createDataFrame(java.util.Arrays.asList((0L until InitialRows.toLong)
      .map(id => rowOf(id, initial(id))): _*), schema).createOrReplaceTempView("ingest_init")
    (0 until TableCount).foreach { i =>
      spark.sql(s"CREATE TABLE lh.$Ns.${table(i)} TBLPROPERTIES ('graft.iceberg.mirror'='true') " +
        "AS SELECT /*+ REPARTITION(2) */ * FROM ingest_init")
    }
  }

  def run(r: Run): Unit = {
    val cfg = r.cfg
    val warehouse = cfg.work.resolve("warehouse")
    val (spark, rest) = r.setup {
      val spark = SparkSide.session(cfg, warehouse)
      setup(spark)
      (spark, IcebergRestService.start(warehouse))
    }

    val http = HttpClient.newHttpClient()
    def get(path: String): (Int, String) = {
      val resp = http.send(HttpRequest.newBuilder(URI.create(rest.uri + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val catalog = spark.sessionState.catalogManager.catalog("lh").asInstanceOf[TableCatalog]
    val dirOf = (0 until TableCount).map(i =>
      warehouse.resolve("bench").resolve("ingest").resolve(table(i))).toIndexedSeq
    val model = new Model
    val probe = new SparkProbe(spark, r)
    val ops = schedule(cfg.seed)
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val nsPath = "/v1/namespaces/bench%1Fingest"
    var n = 0

    def one(op: Op, measured: Boolean): Unit =
      if (Writes(op.kind)) write(op, measured) else read(op, measured)

    def read(op: Op, measured: Boolean): Unit = {
      if (measured) r.attempted += 1
      probe.begin()
      val (result, cost) = Cpu.metered(scala.util.Try(r.trace.op(s"read.${op.kind}") {
        val df = spark.sql(sqlOf(op))
        (df, df.collect())
      }))
      result match {
        case scala.util.Success((df, rows)) =>
          probe.end(Some(df)).foreach { acc =>
            r.layer("scan.bytes_read", acc.bytesRead)
            r.layer("scan.rows_read", acc.recordsRead)
            r.layer("scan.rows_read_per_row_returned", acc.recordsRead / math.max(1, rows.length).toDouble)
          }
          val want = model.answer(op)
          val got = rows.headOption.map(_.toSeq).getOrElse(Nil)
          if (rows.length > 1 || got != want) r.fail(s"${op.kind} ${table(op.table)}: $got, model $want")
          else if (measured) {
            r.sample(op.kind, cost)
            byKind.getOrElseUpdate("read", mutable.ArrayBuffer.empty) += cost.ms
          }
          if (cfg.trace) catalogLayers(dirOf(op.table), op)
        case scala.util.Failure(e) =>
          probe.end(None)
          r.fail(s"${op.kind} ${table(op.table)}: ${e.getMessage}")
      }
    }

    /** Traced run only: the catalog layers' public entry points for the
      * table a read plans, with the filters the read pushes. */
    def catalogLayers(dir: Path, op: Op): Unit = {
      val tr = r.trace
      val filters = filtersOf(op)
      val (_, loadTableMs) = Inputs.timed(tr.span("catalog.loadTable")(
        catalog.loadTable(Identifier.of(Array("bench", "ingest"), table(op.table)))))
      val (full, loadMs) = Inputs.timed(tr.span("meta.load")(TableMetadata.load(dir)))
      val summary = TableMetadata.loadSummary(dir)
      val (resolved, resolveMs) = Inputs.timed(tr.span("meta.resolve")(
        TableMetadata.resolveForScan(TableMetadata.metadataDir(dir), summary, filters)))
      val (kept, pruneMs) = Inputs.timed(tr.span("skip.prune")(
        FileSkipping.prune(resolved.files, resolved.fileStats, resolved.schema, filters)))
      r.layer("catalog.load_table_ms", loadTableMs)
      r.layer("meta.load_ms", loadMs)
      r.layer("meta.resolve_ms", resolveMs)
      r.layer("meta.files_total", full.files.size)
      r.layer("meta.files_after_chunk_prune", resolved.files.size)
      r.layer("skip.prune_ms", pruneMs)
      r.layer("skip.files_kept", kept.size)
      r.layer("skip.kept_ratio", kept.size / math.max(1, resolved.files.size).toDouble)
    }

    def write(op: Op, measured: Boolean): Unit = {
      val dir = dirOf(op.table)
      op match {
        case Merge(_, rs) =>
          spark.createDataFrame(java.util.Arrays.asList(rs.map { case (id, x) => rowOf(id, x) }: _*),
            schema).createOrReplaceTempView("ingest_src")
        case _ =>
      }
      val sql = sqlOf(op)
      val before =
        if (cfg.trace) {
          val (_, ms) = Inputs.timed(r.trace.span("catalog.loadTable")(catalog.loadTable(
            Identifier.of(Array("bench", "ingest"), table(op.table)))))
          r.layer("catalog.load_table_ms", ms)
          Some((TableMetadata.load(dir).files.toSet, Fs.children(dir.resolve("metadata"))
            .map(_.getFileName.toString).toSet))
        } else None
      if (measured) r.attempted += 1
      probe.begin()
      val (result, cost) = Cpu.metered(scala.util.Try(r.trace.op(s"dml.${op.kind}")(spark.sql(sql))))
      result match {
        case scala.util.Success(df) =>
          model(op)
          if (measured) {
            r.sample(op.kind, cost)
            byKind.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += cost.ms
          }
          probe.end(Some(df)).foreach { acc =>
            val lastJobEnd = acc.jobSpans.map(_._2).maxOption.getOrElse(acc.opStartMs)
            r.layer("write.jobs_ms", Stats.unionLength(acc.jobSpans.toSeq).toDouble)
            r.layer("write.commit_tail_ms", (acc.opEndMs - lastJobEnd).toDouble)
            r.layer("write.bytes_written", acc.bytesWritten)
            val user = op match {
              case Append(_, rs) => userBytes(rs)
              case Merge(_, rs) => userBytes(rs)
              case Delete(_, lo, hi) => (hi - lo) * 8.0
              case _ => 1.0
            }
            r.layer("write.bytes_per_user_byte", acc.bytesWritten / user)
          }
          before.foreach { case (files0, md0) =>
            val files1 = TableMetadata.load(dir).files.toSet
            r.layer("write.files_added", (files1 -- files0).size)
            r.layer("write.files_removed", (files0 -- files1).size)
            r.layer("export.files_written", Fs.children(dir.resolve("metadata"))
              .count(p => !md0.contains(p.getFileName.toString)))
          }
          // the REST view must serve the snapshot just committed
          val path = s"$nsPath/tables/${table(op.table)}"
          if (measured) r.attempted += 1
          val ((code, body), restMs) = Inputs.timed(r.trace.op("rest.loadTable")(get(path)))
          r.layer("rest.load_ms", restMs)
          val want = TableMetadata.currentVersion(dir).toLong
          val got = scala.util.Try((JsonMethods.parse(body) \ "metadata" \ "current-snapshot-id")
            .extract[Long](DefaultFormats, manifest[Long])).getOrElse(-1L)
          if (code != 200 && measured) r.layerTotal("rest.non200", 1)
          if (code != 200 || got != want) {
            if (measured) r.fail(s"rest loadTable ${table(op.table)}: HTTP $code, snapshot $got, committed $want")
          } else if (measured) byKind.getOrElseUpdate("rest_load", mutable.ArrayBuffer.empty) += restMs
          n += 1
          if (n % 4 == 0) {
            if (measured) r.attempted += 1
            val ((lc, lbody), listMs) = Inputs.timed(r.trace.op("rest.listTables")(get(s"$nsPath/tables")))
            r.layer("rest.list_ms", listMs)
            if (lc != 200 && measured) r.layerTotal("rest.non200", 1)
            val listed = scala.util.Try((JsonMethods.parse(lbody) \ "identifiers").children.size).getOrElse(-1)
            if ((lc != 200 || listed != TableCount) && measured)
              r.fail(s"rest listTables: HTTP $lc, $listed tables")
          }
        case scala.util.Failure(e) =>
          probe.end(None)
          r.fail(s"${op.kind} ${table(op.table)}: ${e.getMessage}")
      }
    }

    (0 until WarmupCycles * Cycle.size).foreach(_ => one(ops.next(), measured = false))
    r.heapAfterSetupMb = Jvm.heapAfterGcMb()
    r.measure((0 until Cycle.size).foreach(_ => one(ops.next(), measured = true)))
    r.retainedHeapMb = Jvm.heapAfterGcMb()
    rest.stop()

    // every table's rows against the client-side model, in one query
    val got = spark.sql((0 until TableCount).map(i =>
      s"SELECT $i AS t, COUNT(*) AS n, COALESCE(SUM(id), 0) AS k, " +
        s"COALESCE(CAST(SUM(CAST(val AS DECIMAL(18,2))) * 100 AS BIGINT), 0) AS c " +
        s"FROM lh.$Ns.${table(i)}").mkString(" UNION ALL "))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    (0 until TableCount).foreach { i =>
      val want = (model.count(i), model.keySum(i), model.centsSum(i))
      if (!got.get(i).contains(want))
        r.fail(s"${table(i)}: (rows, key sum, cents) = ${got.get(i)}, model $want")
    }
    if (cfg.trace) {
      def p(kind: String, q: Double): Double = Stats.percentile(byKind.getOrElse(kind, Nil).toSeq, q)
      Seq("append", "merge", "delete").foreach(k => r.layerTotal(s"${k}_p50_ms", p(k, 50)))
      r.layerTotal("write_p95_ms",
        Stats.percentile(r.samples.filter(x => Writes(x._1)).map(_._2.ms).toSeq, 95))
      r.layerTotal("scan_p50_ms", p("read", 50))
      r.layerTotal("scan_p95_ms", p("read", 95))
      r.layerTotal("rest_load_p50_ms", p("rest_load", 50))
    }
    spark.stop()
  }
}
