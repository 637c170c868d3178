package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint and metadata-log files on a local disk, written
  * without forking a process.
  *
  * Spark's default manager goes through Hadoop's `FileContext` over the
  * local FS. Without libhadoop (Spark ships none) that FS falls back to
  * shell commands: each file it writes costs one forked `chmod` and four
  * forked `readlink`s (the rename's link-status checks). A micro-batch
  * writes four such files (`offsets/N`, `sources/0/N`,
  * `_spark_metadata/N`, `commits/N`), so a small trigger spent most of
  * its WAL and commit phases spawning processes.
  *
  * Here a write goes to a hidden temp file in the target's directory, is
  * fsynced, and becomes visible in one atomic step: a rename when
  * overwriting is allowed, a hard link otherwise, so a no-overwrite write
  * onto an existing file fails with Hadoop's `FileAlreadyExistsException`
  * (what the metadata logs catch) even against a concurrent writer. No
  * `.crc` is written, and a replaced file's stale Hadoop `.crc` sibling
  * is deleted, so a file first written by Spark's default manager still
  * reads back through it. Reads and listings go through Hadoop's raw
  * local FS, which never verifies a `.crc` and forks nothing for them.
  *
  * Any scheme other than `file:` (HDFS, object stores) delegates to the
  * manager Spark would have picked, so the conf holds on a cluster too.
  * Registered in [[graft.Tuning.recommended]].
  */
final class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val files: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new LocalCheckpointFiles.Nio(path, FileSystem.getLocal(hadoopConf).getRaw)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = files.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  def mkdirs(p: Path): Unit = files.mkdirs(p)
  def exists(p: Path): Boolean = files.exists(p)
  def delete(p: Path): Unit = files.delete(p)
  def isLocal: Boolean = files.isLocal
  def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFiles {

  /** Spark's conf naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def local(p: Path): JPath = Paths.get(p.toUri.getPath)

  /** Hadoop's checksum sibling of `f`. */
  private def crc(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  private final class Nio(root: Path, raw: FileSystem) extends CheckpointFileManager {

    def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicFile(FileChannel.open(temp, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE), temp, target, overwriteIfPossible)
    }

    def open(p: Path): FSDataInputStream = raw.open(p)
    def list(p: Path, filter: PathFilter): Array[FileStatus] = raw.listStatus(p, filter)
    def mkdirs(p: Path): Unit = Files.createDirectories(local(p))
    def exists(p: Path): Boolean = Files.exists(local(p))

    /** Recursive; a missing path is no error, as in Spark's managers. */
    def delete(p: Path): Unit = {
      val f = local(p)
      try org.apache.commons.io.FileUtils.forceDelete(f.toFile)
      catch { case _: FileNotFoundException | _: NoSuchFileException => }
      Files.deleteIfExists(crc(f))
    }

    def isLocal: Boolean = true

    def createCheckpointDirectory(): Path = {
      val dir = Files.createDirectories(local(root)).toAbsolutePath.normalize
      new Path("file", null, dir.toString)
    }
  }

  /** Bytes go to `temp`; `close` makes them durable and then visible as
    * `target`, `cancel` discards them. Either way `temp` is gone after. */
  private final class AtomicFile(ch: FileChannel, temp: JPath, target: JPath,
      overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          try { flush(); ch.force(true) } finally super.close()
          if (overwrite) {
            Files.deleteIfExists(crc(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists") }
            Files.deleteIfExists(crc(target))
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try ch.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
