package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

import graft.catalog.{Bucketing, ColumnRange, FileSkipping, IcebergExport, Snapshot, TableMetadata}

/** `metadata_scale`: no Spark. A synthetic table of `Chunks × PerChunk`
  * file entries (200k: eight full manifest chunks) is built through real
  * commits in set-up; the timed loop is declared 100-file append commits,
  * the full load after each commit, single-partition `resolveForScan`,
  * export after an append, and bucket pruning over the same file count.
  *
  * This is the only workload where manifest chunk parsing, chunk pruning
  * and O(delta) commits do real work: every Spark-workload table fits in
  * one chunk. */
object MetadataScale {

  val Chunks = 8
  val PerChunk = 25000
  /** The mirrored table exported after each append is smaller: its data
    * files must exist on disk (the export reads their sizes). */
  val ExportPerChunk = 1000
  val AppendFiles = 100
  val Buckets = 16
  /** One cycle; each metadata op once. Order is fixed so each op meets the
    * same state every cycle (the load always follows a commit). */
  val Cycle = Seq("commit", "load", "resolve", "export", "bucket_prune")
  /** Set-up is built this many times; `setup_s` is the median. */
  val SetupReps = 3

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType), StructField("p", StringType)))

  private def stats(part: String, i: Int): Map[String, ColumnRange] = Map(
    "k" -> ColumnRange((i * 10).toString, (i * 10 + 9).toString, Some(0L)),
    "p" -> ColumnRange(part, part, Some(0L)))

  final case class Op(kind: String, arg: Int)

  /** The seed's op stream: fixed cycle, seed-drawn partitions and keys. */
  def schedule(seed: Long): Iterator[Op] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x3e7aL)
    Iterator.continually(Cycle).flatten.map { k =>
      Op(k, if (k == "resolve") rnd.nextInt(Chunks) else rnd.nextInt(1000000))
    }
  }

  private def create(dir: Path, name: String): TableMetadata =
    TableMetadata.commit(dir, TableMetadata(
      version = 1, name = name, schema = schema, partitionColumns = Seq("p"),
      properties = Map.empty, files = Vector.empty[String],
      snapshots = Seq(Snapshot(1, 1L, "create", 0, 0))))

  /** Declared append of `rels` as partition `part`. */
  private def append(dir: Path, meta: TableMetadata, part: String,
      rels: Seq[String]): TableMetadata =
    TableMetadata.commit(dir, meta.copy(
      version = meta.version + 1,
      files = meta.files ++ rels,
      fileStats = meta.fileStats ++ rels.zipWithIndex.map { case (r, i) => r -> stats(part, i) },
      fileRows = meta.fileRows ++ rels.map(_ -> 100L),
      snapshots = meta.snapshots :+ Snapshot(meta.version + 1, meta.version + 1L, "append",
        rels.size, 0)),
      Some(TableMetadata.AppendDelta(rels)))

  private def touch(dir: Path, rels: Seq[String]): Unit = rels.foreach { r =>
    val p = dir.resolve(r)
    Files.createDirectories(p.getParent)
    Files.createFile(p)
  }

  private final case class Built(main: Path, mainMeta: TableMetadata, exp: Path, expMeta: TableMetadata)

  private def build(root: Path): Built = {
    val main = root.resolve("main")
    var m = create(main, "meta_scale")
    (0 until Chunks).foreach { c =>
      m = append(main, m, f"p$c%03d", (0 until PerChunk).map(i => f"data/c$c%03d/part-$i%06d.parquet"))
    }
    val exp = root.resolve("export")
    var e = create(exp, "meta_export")
    (0 until Chunks).foreach { c =>
      val rels = (0 until ExportPerChunk).map(i => f"data/c$c%03d/part-$i%06d.parquet")
      touch(exp, rels)
      e = append(exp, e, f"p$c%03d", rels)
    }
    IcebergExport.exportSnapshot(null, exp, TableMetadata.load(exp))
    Built(main, m, exp, e)
  }

  def run(r: Run): Unit = {
    val cfg = r.cfg
    // every build but the last is dropped, files and objects, so the
    // retained heap holds one table set
    val built = (1 to SetupReps).map { i =>
      val root = cfg.work.resolve(s"meta-$i")
      val b = r.setup(build(root))
      if (i < SetupReps) { graft.catalog.Fs.deleteRecursively(root); None } else Some(b)
    }.last.get
    val main = built.main
    val mdDir = TableMetadata.metadataDir(main)
    var mainMeta = built.mainMeta
    val exp = built.exp
    var expMeta = built.expMeta
    var expectedFiles = Chunks * PerChunk
    val bucketFiles: Seq[String] = (0 until Chunks).flatMap { c =>
      (0 until PerChunk).map(i => f"data/b-commit$c%03d/part-${i % Buckets}%05d-synthetic.parquet")
    }
    val bucketProps = Map(Bucketing.ColProp -> "k", Bucketing.CountProp -> Buckets.toString,
      Bucketing.HashProp -> "iceberg")
    var commits = 0
    val tr = r.trace

    def check(ok: Boolean, msg: => String): Unit = if (!ok) r.fail(msg)

    def one(op: Op, measured: Boolean): Unit = {
      if (measured) r.attempted += 1
      val cost: Cost = op.kind match {
        case "commit" =>
          commits += 1
          val part = f"t$commits%05d"
          val rels = (0 until AppendFiles).map(i => s"data/$part/part-$i.parquet")
          val (m, c) = Cpu.metered(tr.op("meta.commit")(append(main, mainMeta, part, rels)))
          mainMeta = m
          expectedFiles += AppendFiles
          check(m.files.size == expectedFiles, s"commit: ${m.files.size} files, expected $expectedFiles")
          r.layer("meta.commit_ms", c.ms)
          c
        case "load" =>
          val (m, c) = Cpu.metered(tr.op("meta.load")(TableMetadata.load(main)))
          check(m.files.size == expectedFiles, s"load: ${m.files.size} files, expected $expectedFiles")
          r.layer("meta.load_ms", c.ms)
          r.layer("meta.files_total", m.files.size)
          c
        case "resolve" =>
          val part = f"p${op.arg}%03d"
          val filters = Seq(sources.EqualTo("p", part))
          val summary = TableMetadata.loadSummary(main)
          val (res, c) = Cpu.metered(tr.op("meta.resolve")(
            TableMetadata.resolveForScan(mdDir, summary, filters)))
          val kept = FileSkipping.prune(res.files, res.fileStats, res.schema, filters)
          check(kept.size == PerChunk && kept.forall(_.startsWith(f"data/c${op.arg}%03d/")),
            s"resolve $part: ${kept.size} files survive, expected $PerChunk")
          if (cfg.trace) {
            val (_, pruneMs) = Inputs.timed(tr.span("skip.prune")(
              FileSkipping.prune(res.files, res.fileStats, res.schema, filters)))
            r.layer("skip.prune_ms", pruneMs)
            r.layer("skip.files_kept", kept.size)
            r.layer("skip.kept_ratio", kept.size / math.max(1, res.files.size).toDouble)
            r.layer("manifests.chunks_total", summary.manifests.size)
            r.layer("manifests.chunks_after_prune", summary.manifests.count(m =>
              m.summary.isEmpty || filters.forall(f => FileSkipping.mayMatch(f, summary.schema, m.summary))))
            r.layer("meta.files_after_chunk_prune", res.files.size)
          }
          r.layer("meta.resolve_ms", c.ms)
          c
        case "export" =>
          val part = f"e${op.arg}%07d"
          val rels = (0 until AppendFiles).map(i => s"data/$part/part-$i.parquet")
          touch(exp, rels)
          expMeta = append(exp, expMeta, part, rels)
          val target = TableMetadata.load(exp)
          val before = graft.catalog.Fs.children(TableMetadata.metadataDir(exp)).size
          val (_, c) = Cpu.metered(tr.op("export.snapshot")(
            IcebergExport.exportSnapshot(null, exp, target)))
          val written = graft.catalog.Fs.children(TableMetadata.metadataDir(exp)).size - before
          check(written >= 1, s"export wrote $written metadata files")
          r.layer("export.ms", c.ms)
          r.layer("export.files_written", written)
          c
        case "bucket_prune" =>
          val v = op.arg
          val (kept, c) = Cpu.metered(tr.op("bucket.prune")(
            Bucketing.pruneByBucket(bucketFiles, bucketProps, schema, Seq(sources.EqualTo("k", v)))))
          val ids = kept.map(f => f.substring(f.lastIndexOf("part-") + 5, f.lastIndexOf("part-") + 10)).toSet
          val want = ids.headOption.map(b => Chunks * (PerChunk / Buckets +
            (if (b.toInt < PerChunk % Buckets) 1 else 0))).getOrElse(-1)
          check(kept.size == want && ids.size == 1,
            s"bucket prune k=$v: ${kept.size} files in ${ids.size} buckets")
          r.layer("bucket.prune_ms", c.ms)
          c
      }
      if (measured) r.sample(op.kind, cost)
    }

    val ops = schedule(cfg.seed)
    // warm-up long enough for the JIT to settle the short metadata ops
    (0 until 3 * Cycle.size).foreach(_ => one(ops.next(), measured = false))
    r.heapAfterSetupMb = Jvm.heapAfterGcMb()
    r.measure((0 until Cycle.size).foreach(_ => one(ops.next(), measured = true)))
    r.retainedHeapMb = Jvm.heapAfterGcMb()
  }
}
