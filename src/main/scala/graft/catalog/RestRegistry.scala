package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** Warehouse-level index of REST-servable tables, so the REST
  * catalog's LIST/discovery routes are O(page) instead of O(warehouse
  * tree). Before this, `hasMirroredTable`/`childNamespacesOf` recursed
  * the directory tree on EVERY list request — and a spec-conformant
  * paging client (the reference's reader BFS-walks namespaces at
  * pageSize=1, exactly what the q129 gate drives) multiplies that: at
  * a 10k-table warehouse every page request was an O(tree) filesystem
  * walk.
  *
  * Shape: one relative table path per line (`ns1/ns2/table`, '/'
  * separated, sorted not required — readers sort), at
  * `<warehouse>/_rest_tables.txt`. A plain FILE in the warehouse root
  * is invisible to both namespace discovery paths (the catalog
  * requires a `_namespace.json` marker inside a DIRECTORY; the REST
  * walk requires `isDirectory`).
  *
  * Maintenance contract:
  *  - REGISTER on hint advance ([[TableMetadata.writeHintStrict]]):
  *    the version hint is what makes a table REST-visible, and every
  *    publish path funnels through it. Steady-state cost per commit is
  *    one in-process set lookup; the first commit of a table per JVM
  *    pays one registry read. Registration only MAINTAINS an existing
  *    registry — it never creates one (warehouses nobody serves over
  *    REST stay registry-free and cost nothing).
  *  - UNREGISTER on `dropTable` / cascading `dropNamespace`
  *    ([[LakehouseCatalog]]).
  *  - CREATE + backfill happens once, at REST service start
  *    ([[ensure]]): one tree walk writes the registry, covering every
  *    table that predates it (the fixture warehouses persist across
  *    rounds).
  *
  * Out-of-band deletion (rm -rf of a table dir) leaves a stale line;
  * the REST service re-validates each served PAGE of table
  * identifiers against the filesystem (O(page) stats), so a stale
  * entry can hide a table listing row but never serve one. All writes
  * are read-modify-rewrite under a cross-process `FileLock`
  * (`_rest_tables.lock`) with an atomic-move publish; readers never
  * lock (they only ever see a complete file). Every operation is
  * best-effort: a registry failure must never fail a COMMIT (register
  * rides the hint write) — the worst outcome is a walk fallback or a
  * stale-validated line, both correct. */
object RestRegistry {

  val FileName = "_rest_tables.txt"
  private val LockName = "_rest_tables.lock"

  def registryFile(warehouse: Path): Path = warehouse.resolve(FileName)

  /** Climb from a table dir to its warehouse root: namespace levels
    * carry `_namespace.json` markers ([[LakehouseCatalog]] layout);
    * the warehouse root is the first ancestor WITHOUT one. Requires at
    * least one marker level — a bare temp-dir table (spec fixtures,
    * direct-path tables) has no warehouse and never registers. */
  def warehouseOf(tableDir: Path): Option[Path] = {
    var p = tableDir.toAbsolutePath.normalize.getParent
    var levels = 0
    while (p != null && levels < 64 &&
        Files.exists(p.resolve("_namespace.json"))) {
      p = p.getParent
      levels += 1
    }
    if (levels > 0 && p != null) Some(p) else None
  }

  private def relPathOf(warehouse: Path, tableDir: Path): Option[String] =
    try {
      val rel = warehouse.relativize(tableDir.toAbsolutePath.normalize)
      val segs = (0 until rel.getNameCount).map(rel.getName(_).toString)
      // control characters would corrupt the line-oriented format (a
      // newline splits one entry into two bogus ones): such a name
      // simply never registers — load-by-name still serves it, LIST
      // degrades honestly for that one table
      if (segs.isEmpty ||
          segs.exists(s => s.isEmpty || s == ".." || s.exists(_.isControl)))
        None
      else Some(segs.mkString("/"))
    } catch { case _: IllegalArgumentException => None }

  /** Tables already confirmed registered by THIS process — the
    * steady-state fast path for the per-commit hook. Bounded by the
    * number of distinct tables this JVM commits to. */
  private val known = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Registry-file fingerprint this JVM last observed per warehouse.
    * `known` is only trustworthy while the registry has not changed
    * underneath us: another PROCESS dropping a table removes its line,
    * and if this JVM then recreates the same path, a stale `known` hit
    * would short-circuit maybeRegister forever (r19, ADVICE). A
    * fingerprint mismatch purges this warehouse's `known` entries —
    * the next commit of each table re-reads the registry and re-adds
    * itself, one registry read per table, self-healing. */
  private val knownRegistryFp = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, java.nio.file.attribute.FileTime)]()

  private def validateKnownAgainst(wh: Path): Unit = {
    val whKey = wh.toAbsolutePath.normalize.toString
    TableMetadata.fileFingerprint(registryFile(wh)).foreach { fp =>
      val prev = knownRegistryFp.put(whKey, fp)
      if (prev != null && prev != fp) {
        known.removeIf(k => k == whKey ||
          k.startsWith(whKey + java.io.File.separator))
        ()
      }
    }
  }

  /** Re-stamp the fingerprint right after OUR OWN write (still under
    * the lock), so the next validateKnownAgainst doesn't read our own
    * rewrite as an external change and purge the cache for nothing. */
  private def stampOwnWrite(wh: Path): Unit = {
    val whKey = wh.toAbsolutePath.normalize.toString
    TableMetadata.fileFingerprint(registryFile(wh))
      .foreach(fp => knownRegistryFp.put(whKey, fp))
  }

  private[graft] def clearKnownForTesting(): Unit = {
    known.clear(); knownRegistryFp.clear()
  }

  /** Read the registry lines (unordered, deduped). None = no registry
    * at this warehouse. */
  def readEntries(warehouse: Path): Option[Set[String]] = {
    val f = registryFile(warehouse)
    if (!Files.isRegularFile(f)) None
    else
      try Some(Files.readString(f, StandardCharsets.UTF_8)
        .linesIterator.map(_.trim).filter(_.nonEmpty).toSet)
      catch { case scala.util.control.NonFatal(_) => None }
  }

  private def writeEntries(warehouse: Path, entries: Set[String]): Unit = {
    val f = registryFile(warehouse)
    val before = TableMetadata.fileFingerprint(f)
    val tmp = Files.createTempFile(warehouse, "._rest_tables-", ".tmp")
    try {
      Files.writeString(tmp, entries.toSeq.sorted.mkString("\n"),
        StandardCharsets.UTF_8)
      Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    // Coarse-mtime filesystems (r19, ADVICE): an unregister+register
    // pair that restores the byte length within one mtime quantum
    // would leave the (size, mtime) fingerprint identical and the
    // REST listing cache would serve the STALE parse until some
    // unrelated write. Keeping mtime STRICTLY MONOTONIC across
    // rewrites (bump past the pre-write value whenever the clock
    // hasn't advanced) makes (size, mtime) a true version counter —
    // covering the two-write A→B→A' case, not just single same-size
    // rewrites. On nanosecond-mtime filesystems the bump never fires.
    // Best-effort like the rest of this hook.
    try {
      for ((_, m0) <- before; (_, m1) <- TableMetadata.fileFingerprint(f))
        if (m1.compareTo(m0) <= 0) {
          Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(m0.toMillis + 1))
          // a 1-second-granularity store truncates the +1 ms back onto
          // m0 — verify, and escalate to +1 s if the bump didn't take
          if (TableMetadata.fileFingerprint(f)
              .exists(_._2.compareTo(m0) <= 0))
            Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime.fromMillis(m0.toMillis + 1000))
        }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Run `body` under BOTH a per-warehouse JVM monitor and the
    * cross-process registry `FileLock`. The monitor must come first:
    * FileLock is per-JVM-per-file, so two THREADS registering their
    * first tables concurrently would hit OverlappingFileLockException
    * — swallowing that and proceeding unlocked could lose one
    * registration to the read-modify-rewrite race, permanently (the
    * in-process `known` cache would mark it done). An fs that cannot
    * lock at all proceeds under the monitor alone (atomic-move
    * rewrites keep readers safe; cross-process losses self-heal at
    * the next ensure). */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Runs `body` under the locks and returns Some(result) — or None
    * WITHOUT running it when a peer PROCESS holds the file lock past
    * the (short) wait budget. This hook rides inside every commit's
    * hint write, whose contract is best-effort: a hung peer (SIGSTOP,
    * dead NFS client) must cost a skipped registration — retried on
    * the table's next commit because the caller then never marks it
    * `known` — never a commit stalled on a blocking lock() forever.
    * An fs that cannot lock at all proceeds under the monitor alone
    * (atomic-move rewrites keep readers safe). */
  private def withLock[A](warehouse: Path)(body: => A): Option[A] = {
    // monitor keyed on the REAL path (r19, ADVICE): two spellings of
    // one warehouse through a symlink would take two different
    // monitors, race straight into OverlappingFileLockException, and
    // the old handler then proceeded with an UNLOCKED
    // read-modify-rewrite — a silently lost registration. Fall back
    // to the normalized path only when the filesystem cannot resolve.
    val monKey =
      try warehouse.toRealPath().toString
      catch { case _: Exception => warehouse.toAbsolutePath.normalize.toString }
    val monitor = jvmLocks.computeIfAbsent(monKey, _ => new Object)
    monitor.synchronized {
      import java.nio.file.StandardOpenOption.{CREATE, WRITE}
      val ch =
        try java.nio.channels.FileChannel.open(
          warehouse.resolve(LockName), CREATE, WRITE)
        catch { case scala.util.control.NonFatal(_) => null }
      var lock: java.nio.channels.FileLock = null
      var unsupported = ch == null
      if (!unsupported) {
        val deadline = System.nanoTime() + 2L * 1000 * 1000 * 1000
        while (lock == null && !unsupported && System.nanoTime() < deadline) {
          try {
            lock = ch.tryLock()
            if (lock == null) Thread.sleep(50)
          } catch {
            // overlapping = some channel in THIS JVM holds the range
            // (a path spelling the monitor key missed, e.g. an
            // unresolvable symlink) — that is CONTENTION, never
            // "fs can't lock": treat exactly like tryLock()==null so
            // the deadline path returns None and the caller skips
            // instead of running an unlocked read-modify-rewrite
            // (r19, ADVICE)
            case _: java.nio.channels.OverlappingFileLockException =>
              Thread.sleep(50)
            case scala.util.control.NonFatal(_) => unsupported = true
          }
        }
      }
      try {
        if (lock != null || unsupported) Some(body) else None
      } finally {
        if (lock != null) { try lock.release() catch { case _: Exception => () } }
        if (ch != null) { try ch.close() catch { case _: Exception => () } }
      }
    }
  }

  /** Per-commit hook ([[TableMetadata.writeHintStrict]]): add the
    * table to its warehouse's registry IF one exists. Never throws —
    * it rides the commit's hint write. */
  def maybeRegister(tableDir: Path): Unit =
    try {
      val abs = tableDir.toAbsolutePath.normalize.toString
      // NOTE the `known` fast path moved BELOW the registry
      // fingerprint validation (r19, ADVICE): a hit may only
      // short-circuit after we know no other process rewrote the
      // registry. Cost on the commit path: warehouseOf's few stats +
      // one fingerprint read — noise next to the publish it rides.
      warehouseOf(tableDir) match {
        case None => () // no warehouse: never registrable
        case Some(wh) =>
          // a registry-less warehouse is NOT cached negative: the REST
          // service may create the registry later, and this table's
          // next commit must then register (one stat per commit until
          // then — noise next to the publish it rides)
          if (!Files.isRegularFile(registryFile(wh))) return
          // cross-process coherence: purge `known` for this warehouse
          // when the registry changed under us (r19, ADVICE), BEFORE
          // consulting it
          validateKnownAgainst(wh)
          if (known.contains(abs)) return
          relPathOf(wh, tableDir).foreach { rel =>
            // the registry must be READ back successfully before any
            // write: a transient read failure (or the file vanishing
            // between the check above and here) falling back to an
            // empty set would REPLACE a 10k-line registry with this
            // one line — silently, since the file then exists and
            // nothing re-walks. Creation belongs to ensure() alone;
            // an unreadable/absent registry here skips, unmarked, so
            // the table's next commit retries.
            val registered = withLock(wh) {
              // again under the lock: a peer rewrite landing since the
              // check above would otherwise be stamped as our own below
              validateKnownAgainst(wh)
              readEntries(wh) match {
                case Some(cur) =>
                  if (!cur.contains(rel)) writeEntries(wh, cur + rel)
                  // still under the lock: record the post-write
                  // fingerprint so our own rewrite never reads as an
                  // external change
                  stampOwnWrite(wh)
                  true
                case None => false
              }
            }
            if (registered.contains(true)) { known.add(abs); () }
          }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Drop one table's line (dropTable). Best-effort. */
  def unregister(warehouse: Path, tableRelPath: String): Unit =
    try {
      if (!Files.isRegularFile(registryFile(warehouse))) return
      // a skipped rewrite (peer holds the lock) leaves a stale line:
      // the REST tables route re-validates per page, so it can hide a
      // row but never serve one
      withLock(warehouse) {
        // purge-on-change BEFORE any stamping, mirroring
        // maybeRegister: stamping unconditionally would record an
        // EXTERNAL rewrite's fingerprint as "our own write" and the
        // next validateKnownAgainst would never purge `known`. Under
        // the lock, so no peer rewrite can land between this check
        // and our stamp
        validateKnownAgainst(warehouse)
        readEntries(warehouse).foreach { cur =>
          if (cur.contains(tableRelPath)) {
            writeEntries(warehouse, cur - tableRelPath)
            // only after OUR write: a no-op unregister must not adopt
            // a peer's fingerprint as ours
            stampOwnWrite(warehouse)
          }
        }
      }
      known.remove(warehouse.resolve(tableRelPath)
        .toAbsolutePath.normalize.toString)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Drop every line at or under a namespace (cascading
    * dropNamespace). Best-effort. */
  def unregisterPrefix(warehouse: Path, nsRelPath: String): Unit =
    try {
      if (!Files.isRegularFile(registryFile(warehouse))) return
      val pfx = nsRelPath + "/"
      withLock(warehouse) {
        // see unregister: validate (purge-on-change) under the lock
        // first, stamp only after an actual write
        validateKnownAgainst(warehouse)
        readEntries(warehouse).foreach { cur =>
          val keep = cur.filterNot(e => e == nsRelPath || e.startsWith(pfx))
          if (keep.size != cur.size) {
            writeEntries(warehouse, keep)
            stampOwnWrite(warehouse)
          }
        }
      }
      // separator-anchored: dropping ns1 must not purge ns1x/t from
      // the in-process cache
      val nsAbs = warehouse.resolve(nsRelPath).toAbsolutePath.normalize.toString
      known.removeIf(k => k == nsAbs ||
        k.startsWith(nsAbs + java.io.File.separator))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Create-or-read: called once at REST service start. Absent
    * registry → ONE tree walk (`walk` yields relative table paths)
    * backfills it; present → read as-is (commit hooks have maintained
    * it since creation). Returns the entries, or None when even the
    * walk/write failed (the service then falls back to per-request
    * walking, the pre-registry behavior). */
  def ensure(warehouse: Path, walk: () => Seq[String]): Option[Set[String]] =
    try {
      readEntries(warehouse).orElse {
        val walked = walk().toSet
        val outcome: Option[Either[Set[String], Set[String]]] =
          withLock(warehouse) {
            // re-check under the lock: a concurrent ensure may have won
            readEntries(warehouse) match {
              case Some(existing) => Left(existing) // peer created it
              case None =>
                writeEntries(warehouse, walked)
                stampOwnWrite(warehouse)
                Right(walked) // we created it — close the window below
            }
          }
        outcome match {
          case None => None // lock unavailable: walk fallback this time
          case Some(Left(existing)) => Some(existing)
          case Some(Right(first)) =>
            // Close the creation window (r19, ADVICE): a table whose
            // FIRST hint write landed after walk() started but before
            // the registry file existed was invisible to BOTH paths —
            // maybeRegister (no file yet, correctly not marked known)
            // and the already-past walk — and a write-once table then
            // stayed absent from LIST until a restart. Now that the
            // file exists every new commit self-registers, so ONE more
            // walk catches exactly the stragglers: anything committed
            // before this walk visits it is found here; anything after
            // sees the registry file and registers itself.
            val again = walk().toSet
            val missing = again -- first
            if (missing.nonEmpty) withLock(warehouse) {
              readEntries(warehouse).foreach(cur =>
                writeEntries(warehouse, cur ++ missing))
              stampOwnWrite(warehouse)
            }
            Some(first ++ missing)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
