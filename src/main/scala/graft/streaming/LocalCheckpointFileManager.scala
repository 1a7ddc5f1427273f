package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption,
  Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileAlreadyExistsException, FileStatus,
  FSDataInputStream, FSInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** The checkpoint file manager of Graft's streams: the offset and commit
  * logs, the source logs and the state store files all go through it.
  *
  * Why: without the native Hadoop library, Spark's default
  * `FileContextBasedCheckpointFileManager` forks a `chmod` through
  * `RawLocalFileSystem.setPermission` for every file and directory it
  * creates on a local disk, and leaves a `.crc` sidecar next to every
  * file. Each micro-batch writes two log files. On the traced `egv_live`
  * benchmark (4 vCPUs, `local[4]`) the two writes took 59 ms per batch
  * at the median through Spark's manager and 2 ms through this one.
  *
  * For a `file:` path every operation uses `java.nio`. `createAtomic`
  * writes a hidden `.<name>.<uuid>.tmp` file next to the target. Its
  * `close` publishes the file with `link(2)` when it must not overwrite:
  * that is atomic and fails if the target exists, which surfaces as
  * Hadoop's `FileAlreadyExistsException`, the error `HDFSMetadataLog`
  * reads as a concurrent writer (an atomic rename would silently replace
  * the target on Linux). With `overwriteIfPossible` it renames atomically.
  * `cancel` deletes the temp file. Paths and statuses come back
  * qualified, as from the default manager, and `list` and `delete` treat
  * a `.crc` sidecar as it does, so either manager resumes a checkpoint
  * the other wrote.
  *
  * Durability is that of Spark's default manager on a local disk: an
  * atomic rename or link, and no fsync.
  *
  * Any other scheme goes to the manager Spark would pick without this
  * class. Spark instantiates it by reflection through the `(Path,
  * Configuration)` constructor; [[LocalCheckpointFileManager.install]]
  * names it in a session's conf. */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val impl: CheckpointFileManager = path.getFileSystem(conf) match {
    case fs: LocalFileSystem => new NioFiles(fs, path)
    case _ =>
      val sparkConf = new Configuration(conf)
      sparkConf.unset(ClassKey)
      CheckpointFileManager.create(path, sparkConf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  /** Spark's `spark.sql.streaming.checkpointFileManagerClass`. */
  val ClassKey: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Names this manager in `spark`'s conf unless the session already
    * names one: an explicit setting wins. Queries started afterwards pick
    * it up. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ClassKey).isEmpty)
      spark.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)

  /** The `java.nio` implementation for paths of the local file system
    * `fs`; `root` is the checkpoint path the manager was made for. */
  private final class NioFiles(fs: LocalFileSystem, root: Path) extends CheckpointFileManager {
    private val blockSize = fs.getDefaultBlockSize(root)

    private def local(p: Path): JPath = Paths.get(fs.makeQualified(p).toUri.getPath)
    private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")
    private def isCrc(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = local(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
      val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      new CancellableFSDataOutputStream(new BufferedOutputStream(out)) {
        private var terminated = false

        override def cancel(): Unit = if (!terminated) {
          terminated = true
          try underlyingStream.close() finally Files.deleteIfExists(tmp)
        }

        override def close(): Unit = if (!terminated) {
          terminated = true
          try {
            underlyingStream.close()
            if (overwriteIfPossible) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
            else try Files.createLink(dst, tmp) catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$p already exists")
            }
          } finally Files.deleteIfExists(tmp)
        }
      }
    }

    override def open(p: Path): FSDataInputStream = {
      val ch = try FileChannel.open(local(p), StandardOpenOption.READ) catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist")
      }
      new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), 64 * 1024))
    }

    /** The entries of directory `p` that pass `filter`, as the default
      * manager lists them: qualified paths, `.crc` sidecars left out, an
      * entry deleted while listing skipped. The filter runs before any
      * entry is stat'ed. */
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = fs.makeQualified(p)
      val entries = try Files.newDirectoryStream(local(dir)) catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist")
      }
      Using.resource(entries) { es =>
        es.asScala.iterator
          .map(e => (e, new Path(dir, e.getFileName.toString)))
          .filter { case (e, q) => !isCrc(e.getFileName.toString) && filter.accept(q) }
          .flatMap { case (e, q) =>
            try {
              val a = Files.readAttributes(e, classOf[BasicFileAttributes])
              Some(new FileStatus(a.size, a.isDirectory, 1, blockSize,
                a.lastModifiedTime.toMillis, q))
            } catch { case _: NoSuchFileException => None }
          }
          .toArray
      }
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    /** Deletes `p` with its `.crc` sidecar, or a directory with all it
      * holds; a missing `p` is not an error. */
    override def delete(p: Path): Unit = {
      val f = local(p)
      if (Files.isDirectory(f))
        Using.resource(Files.walk(f)) { w =>
          w.iterator.asScala.toSeq.reverse.foreach(x => Files.deleteIfExists(x))
        }
      else {
        Files.deleteIfExists(f)
        Files.deleteIfExists(crcOf(f))
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** A seekable, positionally readable stream over a file channel. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    private val in = Channels.newInputStream(ch)
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
    override def seek(pos: Long): Unit = ch.position(pos)
    override def getPos: Long = ch.position()
    override def seekToNewSource(target: Long): Boolean = false
    override def close(): Unit = ch.close()
  }
}
