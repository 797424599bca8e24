package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, Path,
  PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath, Paths}

/** A streaming checkpoint file manager whose local writes start no
  * process.
  *
  * Spark writes two checkpoint log files per micro-batch (`offsets/N`,
  * `commits/N`) through `createAtomic`: a temp file, then a rename. On a
  * `file:` checkpoint its default manager goes through Hadoop's
  * `FileContext`, and without Hadoop's native library each such write
  * starts shell processes: `chmod` for the data file and its `.crc`
  * sibling (both are created with a permission) and `readlink` for every
  * link-status check of the rename, 20 processes per micro-batch. Here,
  * for a `file:` path, `createAtomic`, `mkdirs` and
  * `createCheckpointDirectory` run on `java.nio` and start none; `open`,
  * `list`, `exists` and `delete` stay on Hadoop's local filesystem,
  * which starts no process for them. Any other filesystem gets the
  * manager Spark would have built without this class (the
  * `FileContext`-based one), unchanged.
  *
  * The on-disk format is Spark's: the same temp-file names, the same
  * bytes, only no `.crc` siblings. A checkpoint written under either
  * manager restarts under the other: Hadoop reads a file without a
  * `.crc` unverified, and a write here deletes a stale `.crc` (Spark's
  * `FileSystem`-based manager writes checksummed ones), so a later read
  * does not verify the new bytes against the old checksum.
  *
  * What `HDFSMetadataLog` relies on is kept: `createAtomic(p, overwrite =
  * false)` fails with Hadoop's `FileAlreadyExistsException` when `p`
  * exists, also when two writers race for it (the temp file is
  * hard-linked into place, which fails on an existing target, where a
  * move would replace it); `overwrite = true` replaces the target with
  * an atomic move; `cancel()` leaves neither the target nor the temp
  * file.
  *
  * [[LocalCheckpointFiles.install]] makes it a session's manager. */
final class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFiles._

  /** The manager Spark builds for `path` when no manager class is set. */
  private[cdc] val default: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private val fs = path.getFileSystem(hadoopConf)

  /** True when writes go through `java.nio` (a `file:` path). */
  private[cdc] val local: Boolean = fs.getUri.getScheme == "file"

  private def file(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri.getPath)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) default.createAtomic(p, overwriteIfPossible)
    else {
      val target = file(p)
      // Spark's temp name: hidden, and not a batch number to a log's filter
      val temp = target.resolveSibling(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
      new AtomicOutput(target, temp, overwriteIfPossible,
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
    }

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(file(p)) else default.mkdirs(p)

  override def createCheckpointDirectory(): Path =
    if (!local) default.createCheckpointDirectory()
    else {
      val q = fs.makeQualified(path)
      Files.createDirectories(file(q))
      q
    }

  override def open(p: Path): FSDataInputStream = default.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = default.list(p, filter)
  override def exists(p: Path): Boolean = default.exists(p)
  override def delete(p: Path): Unit = default.delete(p)
  override def isLocal: Boolean = default.isLocal
  override def close(): Unit = default.close()
}

object LocalCheckpointFiles {

  /** Spark's conf naming a streaming query's checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make [[LocalCheckpointFiles]] the checkpoint file manager of every
    * stream `spark` starts from now on, unless the session, or the
    * Hadoop configuration its streams read, already names one. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFiles].getName)

  /** Writes `temp`; `close` puts it in place as `target`, `cancel` drops it. */
  private final class AtomicOutput(target: NioPath, temp: NioPath, overwrite: Boolean,
      raw: OutputStream) extends CancellableFSDataOutputStream(new BufferedOutputStream(raw)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          // Hadoop verifies a file against its `.crc` sibling when one
          // exists; none is written here, so an old one must go
          val crc = target.resolveSibling(s".${target.getFileName}.crc")
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
      if (!terminated) {
        terminated = true
        try raw.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
