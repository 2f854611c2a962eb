package graft.sources

import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import java.nio.file.{Files, Paths}
import scala.util.Try
import scala.util.control.NonFatal

/** Atomic publish of one small file. The content goes to a temp file
  * beside the target (a [[TmpPrefix]] dot name, which parquet discovery
  * skips), one file-system step puts it in place, and the temp never
  * outlives the call.
  *
  * [[replace]]: a reader finds the old content or the new, never no file.
  *  - Local file system: POSIX rename(2) on the raw file system, which
  *    replaces the target in one step. Hadoop's `FileContext` rename
  *    with OVERWRITE is no replace there: the default
  *    `AbstractFileSystem.renameInternal` deletes the target first, and
  *    a thread polling the target during 150 such replaces found it
  *    missing in 2.9M of 13.7M polls on a 4-core VM (`ReplaceFileSpec`
  *    finds none with the raw rename). The checksummed `file:` system's
  *    own rename refuses an existing target. The temp is written
  *    without a checksum and the target's `.crc` is dropped before the
  *    rename, so no reader pairs the new bytes with the old checksum.
  *  - Any other file system: `FileContext` rename with OVERWRITE, one
  *    atomic `rename2` on HDFS.
  *
  * [[create]]: put-if-absent, the commit primitive of the Delta log
  * protocol. Of writers racing for one name exactly one publishes; the
  * others get `FileAlreadyExistsException` and leave the winner's file
  * as it is.
  *  - Local file system: a hard link of the temp to the target, because
  *    link(2) fails on an existing name — rename(2) would replace it, and
  *    Hadoop's no-overwrite renames check and rename in two steps. The
  *    checksummed `file:` system writes the temp with a `.crc`, which
  *    moves to the target's after the data file is linked (a reader in
  *    between reads the bytes unverified); the raw one writes none.
  *  - Any other file system: `FileContext` rename with NONE, one atomic
  *    `rename2` on HDFS that fails on an existing target. */
private[graft] object SmallFile {

  /** The name prefix of every temp this module writes. */
  val TmpPrefix = ".tmp-"

  /** The whole file as UTF-8 text, through `fs` (a checksummed file
    * system verifies the bytes). */
  def read(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  def replace(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = fs match {
    case local: LocalFileSystem =>
      written(local.getRaw, target, bytes) { tmp =>
        local.getRaw.delete(local.getChecksumFile(target), false)
        if (!local.getRaw.rename(tmp, target))
          throw new java.io.IOException(s"cannot replace $target with $tmp")
      }
    case _ =>
      written(fs, target, bytes)(context(fs).rename(_, target, Options.Rename.OVERWRITE))
  }

  def create(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem => linked(fs, target, bytes)
    case _ =>
      written(fs, target, bytes)(context(fs).rename(_, target, Options.Rename.NONE))
  }

  /** [[create]] on the local file system. */
  private def linked(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit =
    written(fs, target, bytes) { tmp =>
      def local(p: Path) = Paths.get(fs.makeQualified(p).toUri)
      try Files.createLink(local(target), local(tmp))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$target already exists")
      }
      // published: the checksum follows and the temp goes, and neither
      // step's failure can unpublish the file
      fs match {
        case checksummed: ChecksumFileSystem =>
          Try(checksummed.getRawFileSystem.rename(
            checksummed.getChecksumFile(tmp), checksummed.getChecksumFile(target)))
        case _ =>
      }
      Try(fs.delete(tmp, false))
    }

  private def context(fs: FileSystem) = FileContext.getFileContext(fs.getUri, fs.getConf)

  /** Write `bytes` to a temp beside `target` and hand it to `publish`;
    * the temp goes when the publish fails. */
  private def written(fs: FileSystem, target: Path, bytes: Array[Byte])(publish: Path => Unit): Unit = {
    val tmp = new Path(target.getParent, s"$TmpPrefix${target.getName}-${java.util.UUID.randomUUID}")
    try {
      fs.mkdirs(target.getParent)
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      publish(tmp)
    } catch {
      case NonFatal(e) =>
        Try(fs.delete(tmp, false))
        throw e
    }
  }
}
