package graft.ingest

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, LinkOption, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * The ingest stream's checkpoint file manager (the offsets, commits and
 * file-source logs and the stream's `metadata` file). Paths on the
 * local `file:` scheme are served through `java.nio`; every other
 * scheme goes to Spark's own default manager.
 *
 * Why: without Hadoop's native library, `RawLocalFileSystem` forks a
 * `chmod` for every create and `FileContext` forks four `readlink`s for
 * every rename: Spark's default manager spent ~40 ms per checkpoint
 * write, ~95 ms of every CDC trigger, in process starts (4-vCPU VM,
 * stock Spark 4.1 distribution). Delta's
 * `LogStore` makes the same choice: per storage scheme, the cheapest
 * primitive that still gives an atomic put-if-absent.
 *
 *  - `createAtomic` writes a hidden temp file next to the target. On
 *    close, a no-clobber publish hard-links the target to it
 *    (`link(2)` fails atomically when the target exists, the
 *    concurrent-writer contract `HDFSMetadataLog` relies on) and an
 *    overwrite renames over it. Either drops a stale `.<name>.crc`, so
 *    Spark's checksummed manager can still read the file later.
 *    `cancel` deletes the temp and publishes nothing.
 *  - Durability matches Spark's default manager: no fsync.
 *  - `list` hides dot files: the temps, and the checksum files Spark's
 *    manager leaves, so a checkpoint moves between the two freely.
 */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[ingest] val underlying: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case fs: LocalFileSystem =>
        new NioCheckpointFiles(path, fs.getRaw.asInstanceOf[RawLocalFileSystem])
      case fs: RawLocalFileSystem if fs.getScheme == "file" =>
        new NioCheckpointFiles(path, fs)
      case _ =>
        // Spark's own choice, made without this class named in the conf
        val conf = new Configuration(hadoopConf)
        conf.unset(LocalCheckpointFileManager.ConfKey)
        CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** The SQL conf key Spark reads the checkpoint manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}

/** The `file:` half of [[LocalCheckpointFileManager]]; `open` is the
  * one call left to `RawLocalFileSystem` (it forks nothing). */
private final class NioCheckpointFiles(root: Path, raw: RawLocalFileSystem)
    extends CheckpointFileManager {
  private def file(p: Path) = raw.pathToFile(p).toPath
  private def crcOf(f: java.nio.file.Path) =
    f.resolveSibling(s".${f.getFileName}.crc")

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = file(p)
    Files.createDirectories(target.getParent)
    val temp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    new NioCheckpointFiles.Publish(temp, target, crcOf(target),
      overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = raw.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = file(p)
    if (!Files.exists(dir)) throw new FileNotFoundException(s"$p does not exist")
    val qualified = raw.makeQualified(p)
    val entries = Files.newDirectoryStream(dir)
    try entries.iterator.asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        new FileStatus(a.size, a.isDirectory, 1, raw.getDefaultBlockSize(p),
          a.lastModifiedTime.toMillis, new Path(qualified, f.getFileName.toString))
      }
      .filter(st => filter.accept(st.getPath))
      .toArray
    finally entries.close()
  }

  override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))

  override def exists(p: Path): Boolean = Files.exists(file(p))

  override def delete(p: Path): Unit = {
    val f = file(p)
    if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
      val tree = Files.walk(f)
      try tree.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally tree.close()
    } else Files.deleteIfExists(f)
    Files.deleteIfExists(crcOf(f))
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val qualified = raw.makeQualified(root)
    Files.createDirectories(file(qualified))
    qualified
  }
}

private object NioCheckpointFiles {
  /** The temp file's stream; closing it publishes the target. */
  final class Publish(temp: java.nio.file.Path, target: java.nio.file.Path,
      crc: java.nio.file.Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            Files.deleteIfExists(crc)
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
