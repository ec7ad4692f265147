package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}

/** The one way a small metadata file is published: the bronze
  * manifest, the rollup's `_version` pointer, the Delta log's version
  * files and `_last_checkpoint`, the deltaLink checkpoint, and the
  * files of [[LocalParquet.write]]. The bytes go to a writer-unique
  * hidden temp beside `target`, which is then renamed into place, so a
  * reader never sees a partial write.
  *
  *  - [[claim]] renames with `Rename.NONE`: the first writer wins, and
  *    a lost race deletes its temp and returns false.
  *  - [[replace]] / [[replaceWith]] rename with `Rename.OVERWRITE`.
  *    HDFS swaps the file in one step; Hadoop's local filesystem (and
  *    any other that keeps the generic `FileContext` rename) deletes
  *    the old file first, so a reader can briefly find none.
  *
  * Any failure deletes the temp, and because every temp name is unique
  * a temp left by a crashed process never blocks a later publish.
  * The rename and the cleanup go through the `FileContext` that
  * creates text files (and that [[replaceWith]] hands its `write`),
  * whose checksummed local filesystem moves or deletes a file's `.crc`
  * sidecar with it: no publish orphans a sidecar.
  */
object AtomicFile {

  /** Publish `text` at `target` unless a file is already there.
    * Returns true iff these bytes became `target`. */
  def claim(conf: Configuration, target: Path, text: String): Boolean =
    publish(conf, target, Rename.NONE)(create(text))

  /** Publish `text` at `target`, replacing any file there. */
  def replace(conf: Configuration, target: Path, text: String): Unit =
    replaceWith(conf, target)(create(text))

  /** Publish at `target`, replacing any file there, the file that
    * `write` lays down at the temp path it is given. */
  def replaceWith(conf: Configuration, target: Path)
      (write: (FileContext, Path) => Unit): Unit =
    publish(conf, target, Rename.OVERWRITE)(write)

  /** The whole file `p` as UTF-8 text. */
  def read(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def create(text: String)(fc: FileContext, tmp: Path): Unit = {
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent())
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def publish(conf: Configuration, target: Path, mode: Rename)
      (write: (FileContext, Path) => Unit): Boolean = {
    val fc = FileContext.getFileContext(target.toUri, conf)
    val tmp = new Path(target.getParent,
      s".${target.getName}-${java.util.UUID.randomUUID()}.tmp")
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
