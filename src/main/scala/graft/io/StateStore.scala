package graft.io

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{AtomicMoveNotSupportedException, Files}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

/** The ONE on-disk layout for every persisted state: the five dedup
  * screens' states (minhash / containment / resemblance / substring /
  * paragraph), [[graft.ext.AnnIndex]] and the streaming data card.
  *
  * A state root holds numbered version directories (`graft_v<n>`) and one
  * regular pointer file naming the committed one:
  *
  *  - save writes every part, the params manifest and the per-save
  *    counter into a FRESH version directory, then commits by atomically
  *    renaming the pointer, then deletes the store's superseded version
  *    directories. A crash at any instant leaves the pointer at a
  *    complete earlier version: there is no lossy window, and a save
  *    never writes into the directory its input may still be reading;
  *  - load follows the pointer, requires a `_SUCCESS` marker under every
  *    part (defensively — the pointer only ever names a finished
  *    version) and gates on loud parameter equality: a state built under
  *    different params would silently find NOTHING (buckets, shingles,
  *    windows and codes from different schemes never join), so a
  *    mismatch is an immediate error naming both sides.
  *
  * Only `graft_v<n>` directories are ever deleted, so a caller's root may
  * hold other files. A root without the pointer (nothing saved yet, or a
  * layout older than this store) reads as absent.
  *
  * Roots are LOCAL-FILESYSTEM paths: the pointer swap is a `java.nio`
  * rename, so a remote URI would split the state across two filesystems.
  */
private[graft] object StateStore {

  private val Pointer = "_GRAFT_CURRENT"
  private val Params = "_params"
  private val Counter = "_counter"
  private val VersionName = "graft_v(\\d+)".r

  /** A committed version: its directory and the Long saved beside the
    * params (the screens' stale-doc drift counter, the card's last
    * applied batch id).
    */
  final case class Version(dir: String, counter: Long) {
    def part(name: String): String = s"$dir/$name"
  }

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  private def versions(root: File): Seq[(File, Long)] =
    Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      f.getName match {
        case VersionName(n) if f.isDirectory => Some((f, n.toLong))
        case _ => None
      }
    }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }

  /** Crash-safe save: `writeParts` writes every part under the version
    * directory it is given; the state becomes visible only once it returns.
    */
  def save(root: String, params: String, counter: Long = 0L)(
      writeParts: String => Unit): Unit = {
    val rootDir = new File(root)
    rootDir.mkdirs()
    // above every existing version, committed or torn: a torn directory
    // is never written into, only garbage-collected
    val next = new File(rootDir,
      s"graft_v${(versions(rootDir).map(_._2) :+ 0L).max + 1}")
    writeParts(next.toString)
    next.mkdirs()
    Files.write(new File(next, Params).toPath, params.getBytes(UTF_8))
    Files.write(new File(next, Counter).toPath, counter.toString.getBytes(UTF_8))
    val tmp = new File(rootDir, Pointer + ".tmp").toPath
    val pointer = new File(rootDir, Pointer).toPath
    Files.write(tmp, next.getName.getBytes(UTF_8))
    try Files.move(tmp, pointer, REPLACE_EXISTING, ATOMIC_MOVE)
    catch { case _: AtomicMoveNotSupportedException =>
      Files.move(tmp, pointer, REPLACE_EXISTING)
    }
    versions(rootDir).collect { case (f, _) if f != next => f }
      .foreach(deleteRecursively)
  }

  /** The committed version at `root`, or None when nothing complete was
    * ever committed there. Fails loudly when its params differ from
    * `expect`; `consequence` says what the silent failure WOULD have been.
    */
  def load(root: String, parts: Seq[String], kind: String, expect: String,
      consequence: String): Option[Version] = {
    val pointer = new File(root, Pointer)
    val dir = if (pointer.isFile) Some(new File(root, read(pointer).trim)) else None
    dir.filter(d => parts.forall(p => new File(d, s"$p/_SUCCESS").exists()))
      .map { d =>
        val stored = read(new File(d, Params))
        require(stored == expect,
          s"$kind at $root was built with [$stored] but this run uses " +
            s"[$expect] — $consequence; rebuild the state or pass the " +
            "original parameters")
        Version(d.toString, read(new File(d, Counter)).trim.toLong)
      }
  }
}
