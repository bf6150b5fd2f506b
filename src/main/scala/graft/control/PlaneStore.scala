package graft.control

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Persistence of the control plane next to the lake — the CLI and the
  * HTTP API share it, so commands and requests compose across processes
  * the way the reference's management commands and views compose over its
  * PostgreSQL control tables. Reads of a missing document yield the empty
  * plane.
  *
  * Two files, two write disciplines, because the two halves of the plane
  * scale differently:
  *
  *  - `_control.json` — collections + in-flight steps, collection-count-
  *    sized. Rewritten on every save, ATOMICALLY (temp file + ATOMIC_MOVE):
  *    the streaming loader's exactly-once story is keyed on this document,
  *    so a torn write would break crash recovery at its root.
  *  - `_control.files.jsonl` — the file registry as an APPEND-ONLY journal
  *    of [[Control.FileEvent]] lines. The registry only grows (nothing
  *    deletes file rows), so a save appends just the plane's pending
  *    events — O(delta) IO per micro-batch where serializing the registry
  *    into the document was O(total files) (a 100 TB collection registers
  *    millions of files; the reference pays O(1) PostgreSQL row writes
  *    per file, and so does this log). A crash can tear at most the final
  *    line, which replay drops; every parseable line describes lake state
  *    that had already committed when it was journaled.
  */
object PlaneStore {

  def path(lake: String): String = s"$lake/_control.json"

  /** The file-registry append log. */
  def journalPath(lake: String): String = s"$lake/_control.files.jsonl"

  def load(lake: String): Control.Plane = {
    val p = Paths.get(path(lake))
    val doc =
      if (Files.exists(p)) PlaneJson.fromJson(Files.readString(p))
      else Control.Plane(Map.empty)
    replayJournal(lake, doc)
  }

  /** Apply the journal on top of the document. Events are applied directly
    * to the registry (not via registerFile — replay must not re-journal),
    * idempotently: a duplicate Reg or Comp is a no-op, and events for
    * collections the document no longer knows are dropped. A LOGICALLY
    * deleted collection (cancel) keeps its rows — the reference's
    * documented invariant (Control.scala): only a WIPE deletes
    * collection_file rows, via [[compactJournal]]'s explicit id set. */
  private def replayJournal(lake: String, doc: Control.Plane): Control.Plane = {
    val j = Paths.get(journalPath(lake))
    if (!Files.exists(j)) return doc
    var files = doc.files
    Files.readAllLines(j, StandardCharsets.UTF_8).forEach { line =>
      if (line.nonEmpty) PlaneJson.eventFromJson(line) match {
        case Some(e) if doc.collections.contains(e.collectionId) =>
          val of = files.getOrElse(
            e.collectionId, scala.collection.immutable.VectorMap.empty[String, Boolean])
          e match {
            case Control.FileEvent.Reg(cid, f) =>
              if (!of.contains(f)) files = files.updated(cid, of.updated(f, false))
            case Control.FileEvent.Comp(cid, f) =>
              if (of.contains(f)) files = files.updated(cid, of.updated(f, true))
          }
        case _ => () // torn trailing line, or a collection gone from the doc
      }
    }
    doc.copy(files = files)
  }

  /** Persist the plane: append its pending file events to the journal, then
    * atomically replace the document. Returns the plane with the pending
    * journal drained — callers that keep using the plane MUST continue from
    * the returned value or the next save re-appends the same events (replay
    * is idempotent, so that is waste, not corruption). */
  def save(lake: String, plane: Control.Plane): Control.Plane = {
    if (plane.pendingFileEvents.nonEmpty) {
      val lines = plane.pendingFileEvents
        .map(e => PlaneJson.eventToJson(e) + "\n").mkString
      withJournalLock(lake) {
        Files.write(Paths.get(journalPath(lake)),
          lines.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
    atomicWrite(Paths.get(path(lake)), PlaneJson.toJson(plane))
    plane.copy(pendingFileEvents = Vector.empty)
  }

  /** Drop a WIPED tree's file events from the journal — run after
    * deletecollection / API destroy, with the wiped tree's ids. An
    * append-only journal never shrinks on its own, so a wiped collection's
    * events would otherwise be re-read by every load for the lake's
    * remaining lifetime — O(all events ever) per CLI command / API request
    * where the reference pays a one-time `collection_file` row delete.
    * NOT called on cancel: a logical delete keeps its registry (the
    * reference's invariant — the lake rows still exist).
    *
    * Concurrency-correct against the cross-process composition the module
    * header promises: the journal is RE-READ under the shared journal
    * lock and only the dead lines are filtered out, so events appended by
    * a concurrently running load (another process's micro-batches) are
    * carried into the rewrite instead of being clobbered by a stale
    * in-memory snapshot; the swap itself is the same atomic move as the
    * document write. */
  def compactJournal(lake: String, wipedIds: Set[Long]): Unit =
    withJournalLock(lake) {
      val j = Paths.get(journalPath(lake))
      if (Files.exists(j)) {
        val kept = new StringBuilder
        Files.readAllLines(j, StandardCharsets.UTF_8).forEach { line =>
          if (line.nonEmpty) PlaneJson.eventFromJson(line) match {
            case Some(e) if wipedIds.contains(e.collectionId) => ()
            case Some(_) => kept.append(line).append('\n')
            case None => () // torn trailing line: drop, replay would too
          }
        }
        atomicWrite(j, kept.toString)
      }
    }

  /** Serializes journal mutations (appends and compaction rewrites) across
    * PROCESSES via an OS advisory file lock — the CLI and API compose over
    * one lake from separate JVMs — and across threads of this JVM via the
    * monitor (nested FileChannel locks on one file throw
    * OverlappingFileLockException). Held for microseconds per save. */
  private val jvmJournalLock = new Object
  private def withJournalLock[T](lake: String)(body: => T): T =
    jvmJournalLock.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(s"$lake/_control.journal.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally l.release()
      } finally ch.close()
    }

  /** write temp + ATOMIC_MOVE in the same directory, creating it first:
    * readers see either the old or the new document, never a truncated
    * one. The one commit step of every small JSON document kept beside
    * the lake — the plane, and the streaming stores' sketches, totals and
    * replay watermarks. */
  private[graft] def atomicWrite(target: Path, content: String): Unit = {
    Files.createDirectories(target.toAbsolutePath.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The control plane's timestamp rendering (`YYYY-MM-DD HH:MM:SS` UTC,
    * the reference's data_version format) — shared by the CLI and API. */
  def nowUtc(): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
}
