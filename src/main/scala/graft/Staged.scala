package graft

import java.io.{File, IOException}
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import scala.util.control.NonFatal

/** How a gate artifact derived from a fixture lives under java.io.tmpdir
  * (indexes, pair tables, stream bootstraps, scaled slices).
  *
  * A staged directory `<prefix><tag>` is keyed by the fixture's content
  * fingerprint, so a regenerated fixture at the same path never serves a
  * stale copy, and it is trusted only if it carries the [[Marker]] file.
  * It is built under a unique sibling `<prefix><tag>.tmp-<uuid>`, the
  * marker is written last, and the whole directory is renamed into place
  * atomically: a run killed mid-build (Verify's per-query timeout, or
  * `timeout -k` around the tests and the bench) leaves at most a temp
  * directory, never a final one that a later run reads as complete.
  */
object Staged {

  /** Completion marker, holding the canonical path of the fixture the
    * directory was built from. Spark's file listing skips `_`-prefixed
    * names, so parquet and file-stream readers of the directory never see
    * it. */
  val Marker = "_STAGED"

  private def root = new File(System.getProperty("java.io.tmpdir"))

  /** The staged directory for `fixtureDir` under `prefix`, built by
    * `build(path)` on first use. `build` writes everything under `path`
    * (which it may create or overwrite). Concurrent builders each build
    * their own temp dir; the first rename wins and the others delete
    * theirs and use the winner's. An unmarked final directory (torn by a
    * run killed before staging was marker-gated) is moved aside and
    * deleted, then the fresh build takes its place. */
  def dir(prefix: String, fixtureDir: String)(build: String => Unit): String = {
    val tag = Tables.dataFingerprint(fixtureDir)
    val fin = new File(root, prefix + tag)
    def complete = new File(fin, Marker).exists()
    if (!complete) {
      sweep(prefix, tag, fixtureDir)
      val tmp = new File(root, s"$prefix$tag.tmp-${UUID.randomUUID()}")
      try {
        build(tmp.toString)
        tmp.mkdirs()
        Files.writeString(new File(tmp, Marker).toPath,
          new File(fixtureDir).getCanonicalPath)
        // rename(2) replaces an absent or empty target and fails on a
        // non-empty one: a marked target means another builder won, an
        // unmarked one is torn and is moved aside before one retry
        if (!moved(tmp, fin) && !complete) {
          val torn = new File(root, s"$prefix$tag.torn-${UUID.randomUUID()}")
          if (moved(fin, torn)) rm(torn)
          moved(tmp, fin)
        }
      } finally rm(tmp)
      if (!complete) throw new IOException(s"could not stage $fin")
    }
    fin.toString
  }

  /** A fresh per-run directory `<prefix><pid>-<nanoTime>` (streaming sinks
    * and checkpoints, which must start empty). This one is kept, since the
    * caller's DataFrame reads it lazily. Earlier run directories under the
    * same prefix are swept only if this JVM made them or their owner
    * process is gone: a concurrent JVM's live sink is never deleted. A name
    * with no owner pid (the older `<prefix><nanoTime>` form) counts as
    * ownerless. */
  def runDir(prefix: String): String = {
    val pid = ProcessHandle.current().pid()
    val run = new File(root, s"$prefix$pid-${System.nanoTime()}")
    def stale(name: String): Boolean =
      name.stripPrefix(prefix).split("-", 2) match {
        case Array(owner, _) => owner.toLongOption.forall(p =>
          p == pid || !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        case _ => true
      }
    try Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && stale(f.getName))
      .foreach(rm)
    catch { case NonFatal(_) => }
    run.mkdirs()
    run.toString
  }

  /** Delete the stale fingerprints of `fixtureDir` that java.io.tmpdir
    * holds under `prefix`, which would otherwise accumulate one copy per
    * regenerated fixture. `<prefix><keepTag>` and its in-flight temp dirs
    * (which may belong to a concurrent builder) stay. Another tag goes
    * only if its marker names the same fixture (whose data has since
    * changed) or names none (missing, unreadable, or empty as in
    * directories staged before markers named their fixture), so fixtures
    * sharing one tmpdir keep each other's artifacts. Best-effort:
    * artifact hygiene must never fail a gate query. */
  private[graft] def sweep(prefix: String, keepTag: String,
      fixtureDir: String): Unit = {
    val keep = prefix + keepTag
    def owner(f: File): String =
      try Files.readString(new File(f, Marker).toPath)
      catch { case NonFatal(_) => "" }
    try {
      val fixture = new File(fixtureDir).getCanonicalPath
      Option(root.listFiles()).toSeq.flatten
        .filter { f =>
          val n = f.getName
          n.startsWith(prefix) && n != keep && !n.startsWith(s"$keep.tmp-") &&
            Set("", fixture).contains(owner(f))
        }
        .foreach(rm)
    } catch { case NonFatal(_) => }
  }

  private def moved(from: File, to: File): Boolean =
    try { Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE); true }
    catch { case _: IOException => false }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(); ()
  }
}
