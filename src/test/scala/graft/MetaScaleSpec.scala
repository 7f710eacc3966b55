package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Hard bounds on the metadata-layer scale counters, via the SAME
  * harness that generates `BENCH_META.json` ([[BenchMeta.run]]) — at a
  * small size so the suite stays fast, with the bounds that make the
  * O(delta) claims falsifiable:
  *
  *  - cold `loadSummary` parses ZERO chunks;
  *  - a cold one-partition `resolveForScan` parses ≤ 2 of the chunks
  *    and reads a fraction of the full-resolve bytes;
  *  - mirror maintenance after an append writes exactly ONE new chunk
  *    manifest and reuses every other;
  *  - a load after an append or a delete-only commit builds ZERO full
  *    resolves (it extends the cached predecessor) and equals a cold
  *    resolve field for field.
  */
class MetaScaleSpec extends AnyFunSuite with Matchers {

  test("BenchMeta harness: summary/pruned-resolve/mirror counters hold their bounds") {
    val dir = Files.createTempDirectory("graft-meta-scale-")
    try {
      val r = BenchMeta.run(dir, filesPerChunk = 500, chunks = 6,
        deltaTableChunks = 4, deltaTableChunks10m = 3,
        restNamespaces = 4, restTablesPerNs = 5)
      // 6 chunk commits + three 100-file appends (warm, cold-state, mirror)
      r.files shouldBe 6 * 500 + 300
      r.chunks should be >= 7

      // the DECLARED-append table: predecessor + three 100-file appends
      r.files1m shouldBe 4 * 500 + 300

      // catalog-serving summary load: zero chunks parsed, zero chunk bytes
      r.coldSummaryChunksParsed shouldBe 0L
      r.coldSummaryBytes shouldBe 0L

      // one-partition cold resolve: only the overlapping chunk(s)
      r.resolveOneChunksParsed should be >= 1L
      r.resolveOneChunksParsed should be <= 2L
      r.resolveFullChunksParsed should be >= 7L
      r.resolveOneBytes.toDouble should be < r.resolveFullBytes / 3.0

      // mirror maintenance: the initial export writes every chunk once;
      // after one append it writes exactly the new chunk
      r.exportInitialChunksWritten shouldBe r.resolveFullChunksParsed
      r.exportAppendChunksWritten shouldBe 1L
      r.exportAppendChunksReused shouldBe r.exportInitialChunksWritten

      // bucket pruning over the synthetic 16-bucket layout: a point
      // predicate keeps exactly the wanted bucket's files (the part
      // index cycles 0..15 per chunk; 500 % 16 = 4, so buckets 0-3
      // hold one extra file per chunk), pure driver CPU
      val b = graft.catalog.IcebergHash.bucketOf(
        7, org.apache.spark.sql.types.IntegerType, 16)
      r.bucketPruneSurvivors shouldBe 6 * (500 / 16 + (if (b < 500 % 16) 1 else 0))

      // index probes: the driver cost of a postings/IVF lookup is the
      // chunk-pruned resolve + per-file stat skip — a probe must parse
      // only the chunks its IN predicate overlaps, never the index
      r.postingsProbeTotal shouldBe 6 * 500
      r.postingsProbeChunksParsed should be >= 1L
      r.postingsProbeChunksParsed should be <= 3L // 3 probed buckets
      r.postingsProbeSurvivors should be >= 1
      // per-file skipping inside the probed chunks: the bucket+tok
      // conjunction keeps a small fraction, never whole chunks
      r.postingsProbeSurvivors should be < r.postingsProbeTotal / 20
      r.ivfProbeTotal shouldBe 6 * 500
      r.ivfProbeChunksParsed should be <= 8L // nprobe = 8 cells
      r.ivfProbeSurvivors should be >= 1
      r.ivfProbeSurvivors should be < r.ivfProbeTotal / 20

      // two warm tables alternating full resolves: zero re-parses
      // (per-table cache budgets — the old global LRU made two large
      // tables evict each other chronically)
      r.twoTableAltReparses shouldBe 0L
      // and the tier above: a fully-warm alternation serves from the
      // resolved-meta cache — zero map-materializing resolves built
      r.twoTableWarmResolves shouldBe 0L

      // REST listings are registry-served: ZERO tree-walk directories
      // enumerated across the measured page requests
      r.restTables shouldBe 4 * 5
      r.restListWalkedDirs shouldBe 0L

      // the 10M-point harness (3 chunks here): declared appends built
      // the table, and both measured appends committed
      r.files10m shouldBe 3 * 500 + 200
    } finally graft.catalog.Fs.deleteRecursively(dir)
  }

  test("per-table manifest cache: two at-budget tables never evict each other; the global bound still caps the sum") {
    import graft.catalog.{Manifests, Snapshot, TableMetadata, ColumnRange}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-meta-2t-")
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("p", StringType)))
    def build(name: String, chunks: Int, perChunk: Int): java.nio.file.Path = {
      val td = dir.resolve(name)
      Files.createDirectories(td)
      var m = TableMetadata.commit(td, TableMetadata(
        version = 1, name = name, schema = schema,
        partitionColumns = Seq("p"), properties = Map.empty,
        files = Nil, snapshots = Seq(Snapshot(1, 1L, "create", 0, 0))))
      (0 until chunks).foreach { c =>
        val rels = (0 until perChunk).map(i => f"data/c$c/part-$i%04d.parquet")
        m = TableMetadata.commit(td, m.copy(
          version = m.version + 1,
          files = m.files ++ rels,
          fileStats = m.fileStats ++ rels.map(r =>
            r -> Map("p" -> ColumnRange(f"p$c", f"p$c", Some(0L)))),
          fileRows = m.fileRows ++ rels.map(_ -> 10L),
          snapshots = m.snapshots :+ Snapshot(
            m.version + 1, m.version + 1L, "append", rels.size, 0)))
      }
      td
    }
    // 4 chunks × 300 files each — 1200 entries per table. One commit
    // per chunk keeps chunk granularity aligned with the budgets below.
    val ta = build("ta", 4, 300)
    val tb = build("tb", 4, 300)
    val (oldPer, oldTot) = (Manifests.MaxEntriesPerTable, Manifests.MaxTotalEntries)
    try {
      // each table fits its per-table budget; the SUM fits the global
      // one — alternation must re-parse NOTHING. Under the old single
      // 1M-style global budget this shape (sum > budget) evicted on
      // every swing.
      Manifests.MaxEntriesPerTable = 1200L
      Manifests.MaxTotalEntries = 2500L
      Manifests.clearCacheForTesting()
      // the resolved-meta cache sits ABOVE the chunk tier and would
      // serve these loads without resolving at all — clear it per load
      // so this test exercises the CHUNK cache it is about
      def loadCold(d: java.nio.file.Path): Unit = {
        TableMetadata.clearResolvedCacheForTesting()
        TableMetadata.load(d); ()
      }
      loadCold(ta); loadCold(tb) // populate
      Manifests.resetCounters()
      loadCold(ta); loadCold(tb)
      loadCold(ta); loadCold(tb)
      Manifests.manifestsParsed.get() shouldBe 0L
      Manifests.cachedEntriesForTesting shouldBe 2400L

      // the global bound still enforces: with total capacity below the
      // sum, alternation pays bounded re-parses (the budget works) —
      // and the cache never exceeds its cap
      Manifests.MaxTotalEntries = 1500L
      Manifests.clearCacheForTesting()
      loadCold(ta); loadCold(tb)
      Manifests.resetCounters()
      loadCold(ta); loadCold(tb)
      Manifests.manifestsParsed.get() should be > 0L
      Manifests.cachedEntriesForTesting should be <= 1500L
    } finally {
      Manifests.MaxEntriesPerTable = oldPer
      Manifests.MaxTotalEntries = oldTot
      Manifests.clearCacheForTesting()
      graft.catalog.Fs.deleteRecursively(dir)
    }
  }

  test("resolved-meta cache: warm loads build zero resolves; a commit or file swap invalidates") {
    import graft.catalog.{DeleteFile, Manifests, Snapshot, TableMetadata, ColumnRange}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-meta-rc-")
    val td = dir.resolve("t")
    Files.createDirectories(td)
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("p", StringType)))
    var m = TableMetadata.commit(td, TableMetadata(
      version = 1, name = "t", schema = schema,
      partitionColumns = Seq("p"), properties = Map.empty,
      files = Nil, snapshots = Seq(Snapshot(1, 1L, "create", 0, 0))))
    def append(part: String, declared: Boolean = false): Unit = {
      val rels = (0 until 50).map(i => s"data/$part/part-$i.parquet")
      m = TableMetadata.commit(td, m.copy(
        version = m.version + 1,
        files = m.files ++ rels,
        fileStats = m.fileStats ++ rels.map(r =>
          r -> Map("p" -> ColumnRange(part, part, Some(0L)))),
        fileRows = m.fileRows ++ rels.map(_ -> 10L),
        snapshots = m.snapshots :+ Snapshot(
          m.version + 1, m.version + 1L, "append", rels.size, 0)),
        if (declared) Some(TableMetadata.AppendDelta(rels)) else None)
    }
    // one commit, then a load: (full resolves the load built, result)
    def loadAfter(commit: => Unit): (Long, TableMetadata) = {
      commit
      TableMetadata.resolvesBuilt.set(0)
      val got = TableMetadata.load(td)
      (TableMetadata.resolvesBuilt.get(), got)
    }
    // field for field against a COLD full resolve of the same version
    // (every cache dropped, every chunk re-parsed from disk), then
    // re-warm so the next commit meets a cached predecessor again
    def shouldEqualCold(got: TableMetadata): Unit = {
      Manifests.clearCacheForTesting()
      val cold = TableMetadata.loadFile(td, TableMetadata.versionFile(td, got.version))
      got.files shouldBe cold.files
      got.fileStats shouldBe cold.fileStats
      got.fileRows shouldBe cold.fileRows
      got.fileSeq shouldBe cold.fileSeq
      got.manifests shouldBe cold.manifests
      got.snapshots shouldBe cold.snapshots
      got.deleteFiles shouldBe cold.deleteFiles
      got shouldBe cold
      TableMetadata.load(td); ()
    }
    try {
      append("a"); append("b")
      Manifests.clearCacheForTesting() // drops the resolved cache too
      TableMetadata.load(td)
      // warm re-load: served from the resolved-meta cache — no map
      // materialization at all (before this cache, EVERY load rebuilt
      // three O(files) maps: ~2.8s per load on a 1M-file table)
      TableMetadata.resolvesBuilt.set(0)
      val warm = TableMetadata.load(td)
      TableMetadata.resolvesBuilt.get() shouldBe 0L
      warm.files should have size 100
      // a new commit is a new version file, but an append keeps the
      // cached predecessor's manifest list as a prefix: the load extends
      // it by the new chunk — ZERO full resolves
      val (appendBuilds, appended) = loadAfter(append("c"))
      appended.files should have size 150
      appendBuilds shouldBe 0L
      // ...and then warm again
      TableMetadata.load(td)
      TableMetadata.resolvesBuilt.get() shouldBe 0L
      shouldEqualCold(appended)
      // a DECLARED append extends the same way
      val (declaredBuilds, declared) = loadAfter(append("d", declared = true))
      declaredBuilds shouldBe 0L
      declared.files should have size 200
      shouldEqualCold(declared)
      // a MoR delete-only commit keeps the very same refs (empty tail)
      val refsBefore = m.manifests
      val (deleteBuilds, deleted) = loadAfter {
        m = TableMetadata.commit(td, m.copy(
          version = m.version + 1,
          deleteFiles = m.deleteFiles :+ DeleteFile(
            "data/a/delete-1.parquet", Seq("k"), m.version + 1, 3L),
          snapshots = m.snapshots :+ Snapshot(
            m.version + 1, m.version + 1L, "delete", 0, m.files.size)),
          Some(TableMetadata.AppendDelta(Nil)))
      }
      deleteBuilds shouldBe 0L
      deleted.manifests shouldBe refsBefore
      deleted.deleteFiles should have size 1
      shouldEqualCold(deleted)
      // a commit that REWRITES a chunk (COW DML shape: files leave
      // chunk "b") breaks the prefix: full build
      val gone = m.files.filter(_.startsWith("data/b/")).take(10).toSet
      val (rewriteBuilds, rewritten) = loadAfter {
        m = TableMetadata.commit(td, m.copy(
          version = m.version + 1,
          files = m.files.filterNot(gone),
          fileStats = m.fileStats -- gone,
          fileRows = m.fileRows -- gone,
          fileSeq = m.fileSeq -- gone,
          snapshots = m.snapshots :+ Snapshot(
            m.version + 1, m.version + 1L, "overwrite", 0, m.files.size - gone.size)))
      }
      rewriteBuilds shouldBe 1L
      rewritten.files should have size 190
      shouldEqualCold(rewritten)
      // consolidating the manifest list replaces every ref: full build
      val (consolidateBuilds, consolidated) = loadAfter {
        m = TableMetadata.commitConsolidatedManifests(td, TableMetadata.load(td))
      }
      consolidateBuilds shouldBe 1L
      consolidated.manifests should have size 1
      shouldEqualCold(consolidated)
      // ...and appends extend the consolidated list again
      val (postBuilds, post) = loadAfter(append("e"))
      postBuilds shouldBe 0L
      shouldEqualCold(post)
      // a FILTERED (pruned) resolve never caches and never serves from
      // the cache — it is scan-specific
      val summary = TableMetadata.loadSummary(td)
      val pruned = TableMetadata.resolveForScan(
        TableMetadata.metadataDir(td), summary,
        Seq(org.apache.spark.sql.sources.EqualTo("p", "a")))
      pruned.files.size should be < post.files.size
      // out-of-band version-file replacement (restore-from-backup
      // shape): the fingerprint mismatch forces a fresh resolve
      val vf = TableMetadata.versionFile(td, m.version)
      val bytes = Files.readAllBytes(vf)
      Files.delete(vf)
      Files.write(vf, bytes)
      // force a distinct mtime even on coarse-granularity filesystems
      Files.setLastModifiedTime(vf,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 2000))
      TableMetadata.resolvesBuilt.set(0)
      TableMetadata.load(td)
      TableMetadata.resolvesBuilt.get() should be >= 1L
    } finally {
      Manifests.clearCacheForTesting()
      graft.catalog.Fs.deleteRecursively(dir)
    }
  }

  test("resolved-meta cache: a slower loader of an older version never " +
    "replaces the newer live entry") {
    import graft.catalog.{Manifests, Snapshot, TableMetadata}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-meta-race-")
    val td = dir.resolve("t")
    Files.createDirectories(td)
    def create(): graft.catalog.TableMetadata = TableMetadata.commit(td, TableMetadata(
      version = 1, name = "t", schema = StructType(Seq(StructField("k", IntegerType))),
      partitionColumns = Nil, properties = Map.empty,
      files = Nil, snapshots = Seq(Snapshot(1, 1L, "create", 0, 0))))
    var m = create()
    (0 until 3).foreach { c =>
      val rels = (0 until 200).map(i => s"data/c$c/part-$i.parquet")
      m = TableMetadata.commit(td, m.copy(
        version = m.version + 1, files = m.files ++ rels,
        snapshots = m.snapshots :+ Snapshot(
          m.version + 1, m.version + 1L, "append", rels.size, 0)))
    }
    val newest = m.version
    val mdDir = TableMetadata.metadataDir(td)
    // an unfiltered resolveForScan of a version file is the cached
    // resolve of THAT version (load only ever reads the newest)
    def resolveAt(v: Int): graft.catalog.TableMetadata =
      TableMetadata.resolveForScan(mdDir,
        TableMetadata.fromJson(Files.readString(TableMetadata.versionFile(td, v))), Nil)
    try {
      // the slow loader's put lands last
      TableMetadata.clearResolvedCacheForTesting()
      resolveAt(newest)
      resolveAt(newest - 1).files should have size 400
      TableMetadata.cachedResolvedVersionForTesting(td) shouldBe Some(newest)
      // two loaders released together, either finishing last: the
      // cache always ends on the newest
      (0 until 20).foreach { _ =>
        TableMetadata.clearResolvedCacheForTesting()
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val results = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
        val threads = Seq(newest - 1, newest).map { v =>
          new Thread(() => {
            barrier.await()
            results.put(v, resolveAt(v).files.size); ()
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join(30000))
        results.get(newest - 1) shouldBe 400
        results.get(newest) shouldBe 600
        TableMetadata.cachedResolvedVersionForTesting(td) shouldBe Some(newest)
      }
      // a newer entry of a DROPPED table is dead: the table recreated at
      // the same path replaces it from its first (lower) version on
      graft.catalog.Fs.deleteRecursively(td)
      Files.createDirectories(td)
      val v1 = create()
      TableMetadata.commit(td, v1.copy(version = 2, files = Vector("data/x/part-0.parquet"),
        snapshots = v1.snapshots :+ Snapshot(2, 2L, "append", 1, 0)))
      TableMetadata.load(td).files shouldBe Seq("data/x/part-0.parquet")
      TableMetadata.cachedResolvedVersionForTesting(td) shouldBe Some(2)
    } finally {
      Manifests.clearCacheForTesting()
      graft.catalog.Fs.deleteRecursively(dir)
    }
  }
}
