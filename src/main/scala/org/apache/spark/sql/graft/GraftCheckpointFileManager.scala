package org.apache.spark.sql.graft

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption,
  FileAlreadyExistsException => NioFileAlreadyExistsException, Path => NioPath}
import java.util.UUID
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem,
  FSDataInputStream, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager of a `GraftSession`
  * (`spark.sql.streaming.checkpointFileManagerClass`): the offset WAL,
  * commit log and source log of every micro-batch, and the HDFS-backed
  * state store's delta and snapshot files.
  *
  * On `file:` paths it writes through java.nio ([[GraftCheckpointFileManager.Local]]).
  * Without `libhadoop`, Hadoop's local file system starts a `chmod`
  * process for every file or directory it creates, and `FileContext`'s
  * rename starts `readlink` processes for the paths it resolves: Spark's
  * default manager paid both for each of the three metadata files, of
  * a few hundred bytes, that every micro-batch writes. Every other
  * scheme goes to the manager Spark would pick itself
  * (`CheckpointFileManager.create`): `FileContext`-based, falling back
  * to `FileSystem`-based. */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The manager every call is forwarded to. */
  val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new GraftCheckpointFileManager.Local(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object GraftCheckpointFileManager {

  /** Hadoop's `FileSystem`-based manager with its process-starting
    * calls — file creation, the publishing rename and directory
    * creation — done through java.nio. Reads, listing, `exists` and
    * `delete` stay on the `FileSystem` API: they start no process.
    *
    * A write goes to a hidden temp file in the target's directory and
    * is published on `close`:
    *  - with `overwriteIfPossible`, by an atomic rename over the target.
    *    The target's `.<name>.crc` sibling, left by Hadoop's checksummed
    *    file system (Spark's own managers write one), is deleted first:
    *    beside new content it would fail every later checksummed read;
    *  - without, by a hard link, which fails atomically with Hadoop's
    *    `FileAlreadyExistsException` when the target exists — the
    *    guard `HDFSMetadataLog` relies on against a second writer.
    *
    * Neither `close` nor `cancel` leaves the temp file behind, and
    * `cancel` publishes nothing. Like Hadoop's local file system,
    * nothing is synced to disk. */
  final class Local(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      new AtomicStream(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }

    override def mkdirs(p: Path): Unit = {
      val dir = nio(p)
      try Files.createDirectories(dir)
      catch {
        case _: NioFileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$dir exists and is not a directory")
      }
    }

    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(path)
      mkdirs(qualified)
      qualified
    }
  }

  private final class AtomicStream(target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else
            try Files.createLink(target, temp)
            catch {
              case _: NioFileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        catch { case NonFatal(_) => }
        finally Files.deleteIfExists(temp)
      }
    }
  }
}
