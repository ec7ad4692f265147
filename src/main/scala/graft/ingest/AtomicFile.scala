package graft.ingest

import java.nio.file.{FileAlreadyExistsException, Files, Paths,
  Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}

/** The one way a small metadata file is published: the bronze Delta
  * log's version files (each one a commit) and `_last_checkpoint`, the
  * rollup's `_version` pointer, the deltaLink checkpoint, and the
  * files of [[LocalParquet.write]]. The bytes go to a writer-unique
  * hidden temp beside `target` (`.<name>-<uuid>.tmp`), which then
  * takes the target's name, so a reader never sees a partial write.
  * Any failure deletes the temp, and because every temp name is unique
  * a temp left by a crashed process never blocks a later publish; the
  * sweeps of the dirs that hold these files reclaim such temps
  * ([[sweepTemps]]).
  *
  * On the local filesystem (`file:`) each publish is one system call
  * through `java.nio` and starts no process:
  *  - [[claim]] hard-links the temp to `target` (one `link(2)`), which
  *    fails if the target exists, then deletes the temp: the first
  *    writer wins, and a lost race returns false.
  *  - [[replace]] / [[replaceWith]] move the temp over `target` (one
  *    `rename(2)`): a reader finds the old file or the new one, never
  *    none. Text temps carry no `.crc`, so a stale `.<name>.crc` of the
  *    target is deleted first; a `.crc` that [[replaceWith]]'s writer
  *    left through Hadoop follows its file. Hadoop reads a file with no
  *    `.crc` without verifying it.
  *
  * Every other filesystem goes through one Hadoop `FileContext`, which
  * creates text temps and renames: [[claim]] with `Rename.NONE`,
  * [[replace]] / [[replaceWith]] with `Rename.OVERWRITE`, which HDFS
  * performs in one step.
  */
object AtomicFile {

  /** Publish `text` at `target` unless a file is already there.
    * Returns true iff these bytes became `target`. */
  def claim(conf: Configuration, target: Path, text: String): Boolean =
    localPath(conf, target) match {
      case Some(dst) =>
        publishLocal(dst, writeText(text)) { tmp =>
          try { Files.createLink(dst, tmp); true }
          catch { case _: FileAlreadyExistsException => false }
        }
      case None => publish(conf, target, Rename.NONE)(create(text))
    }

  /** Publish `text` at `target`, replacing any file there. */
  def replace(conf: Configuration, target: Path, text: String): Unit =
    localPath(conf, target) match {
      case Some(dst) => publishLocal(dst, writeText(text))(swap(dst))
      case None => publish(conf, target, Rename.OVERWRITE)(create(text))
    }

  /** Publish at `target`, replacing any file there, the file that
    * `write` lays down at the temp path it is given. */
  def replaceWith(conf: Configuration, target: Path)
      (write: Path => Unit): Unit =
    localPath(conf, target) match {
      case Some(dst) =>
        publishLocal(dst, tmp => write(new Path(tmp.toUri)))(swap(dst))
      case None =>
        publish(conf, target, Rename.OVERWRITE)((_, tmp) => write(tmp))
    }

  /** The whole file `p` as UTF-8 text. */
  def read(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** True for the name of a publish temp: `.<name>-<uuid>.tmp`. */
  def isTemp(name: String): Boolean = TempName.matches(name)

  private val TempName =
    """\..+-\p{XDigit}{8}(-\p{XDigit}{4}){3}-\p{XDigit}{12}\.tmp""".r

  /** Delete the temps in `listed`, one listing of a dir, whose mtime is
    * strictly older than the newest file in it that `kept` names (the
    * newest version or pointer the caller's sweep keeps). A publish
    * that races the sweep made its temp after that file, so it is never
    * touched. Hadoop deletes a temp's `.crc` with it. */
  def sweepTemps(f: FileSystem, listed: Seq[FileStatus],
      kept: String => Boolean): Unit = {
    val newest = listed.filter(s => kept(s.getPath.getName))
      .map(_.getModificationTime).maxOption
    newest.foreach { t =>
      listed.filter(s =>
          isTemp(s.getPath.getName) && s.getModificationTime < t)
        .foreach(s => f.delete(s.getPath, false))
    }
  }

  /** `target` as a `java.nio` path when its filesystem is the local one. */
  private def localPath(conf: Configuration,
      target: Path): Option[NioPath] = {
    val fs = target.getFileSystem(conf)
    if (fs.getUri.getScheme == "file")
      Some(Paths.get(fs.makeQualified(target).toUri))
    else None
  }

  private def tempName(target: String): String =
    s".$target-${java.util.UUID.randomUUID()}.tmp"

  private def crc(p: NioPath): NioPath =
    p.resolveSibling(s".${p.getFileName}.crc")

  private def writeText(text: String)(tmp: NioPath): Unit =
    Files.write(tmp, text.getBytes("UTF-8"))

  /** Move `tmp` over `dst` in one `rename(2)`, then the `.crc` that a
    * Hadoop writer left beside it, if any. */
  private def swap(dst: NioPath)(tmp: NioPath): Boolean = {
    Files.deleteIfExists(crc(dst))
    Files.move(tmp, dst, ATOMIC_MOVE)
    if (Files.exists(crc(tmp))) Files.move(crc(tmp), crc(dst), ATOMIC_MOVE)
    true
  }

  /** `write` the temp beside `dst`, then `place` it; the temp and its
    * `.crc` are gone afterwards, whatever happened. */
  private def publishLocal(dst: NioPath, write: NioPath => Unit)
      (place: NioPath => Boolean): Boolean = {
    val tmp = dst.resolveSibling(tempName(dst.getFileName.toString))
    try {
      Files.createDirectories(dst.getParent)
      write(tmp)
      place(tmp)
    } finally
      Seq(tmp, crc(tmp)).foreach(p => scala.util.Try(Files.deleteIfExists(p)))
  }

  private def create(text: String)(fc: FileContext, tmp: Path): Unit = {
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent())
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def publish(conf: Configuration, target: Path, mode: Rename)
      (write: (FileContext, Path) => Unit): Boolean = {
    val fc = FileContext.getFileContext(target.toUri, conf)
    val tmp = new Path(target.getParent, tempName(target.getName))
    try {
      write(fc, tmp)
      fc.rename(tmp, target, mode)
      true
    } catch {
      case _: java.io.IOException
          if mode == Rename.NONE && fc.util.exists(target) =>
        fc.delete(tmp, false)
        false
      case e: Throwable =>
        scala.util.Try(fc.delete(tmp, false))
        throw e
    }
  }
}
