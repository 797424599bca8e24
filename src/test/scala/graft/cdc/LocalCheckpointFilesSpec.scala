package graft.cdc

import graft.SparkSpec
import graft.model.Subscription
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException,
  Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** [[LocalCheckpointFiles]]: the `createAtomic` contract `HDFSMetadataLog`
  * relies on, restart compatibility with Spark's own manager (a stale
  * `.crc`), delegation, the session install, and a live stream that
  * starts no process. */
class LocalCheckpointFilesSpec extends SparkSpec {
  import LocalCheckpointFilesSpec._

  private def tmpDir(): java.nio.file.Path = Files.createTempDirectory("lcf")
  private def conf = spark.sessionState.newHadoopConf()
  private def ours(dir: java.nio.file.Path) = new LocalCheckpointFiles(new Path(dir.toUri), conf)
  private def sparks(dir: java.nio.file.Path) =
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
  private def fsBased(dir: java.nio.file.Path) =
    new FileSystemBasedCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  /** Every name in `dir`, hidden ones included. */
  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a no-overwrite create over an existing file throws, the file and " +
      "directory unchanged") {
    val dir = tmpDir(); val m = ours(dir); val p = new Path(dir.toUri.toString + "0")
    assert(m.local)
    write(m, p, "first")
    intercept[FileAlreadyExistsException](write(m, p, "second"))
    assert(read(m, p) == "first")
    assert(names(dir) == Set("0"), "no temp file is left behind")
  }

  test("of two concurrent writers of one batch file, exactly one wins") {
    val dir = tmpDir(); val m = ours(dir)
    val pool = Executors.newFixedThreadPool(2)
    try (0 until 40).foreach { round =>
      val p = new Path(dir.toUri.toString + round)
      val barrier = new CyclicBarrier(2)
      val results = Seq("a", "b").map { w =>
        pool.submit(() => {
          val out = m.createAtomic(p, false)
          out.write(s"$w$round".getBytes(UTF_8))
          barrier.await(10, TimeUnit.SECONDS) // both temps written before either closes
          try { out.close(); Right(w) }
          catch { case e: FileAlreadyExistsException => out.cancel(); Left(e) }
        })
      }.map(_.get(30, TimeUnit.SECONDS))
      val winners = results.collect { case Right(w) => w }
      assert(winners.size == 1, s"round $round: $results")
      assert(read(m, p) == s"${winners.head}$round")
    } finally pool.shutdownNow()
    assert(names(dir) == (0 until 40).map(_.toString).toSet, "no temp file is left behind")
  }

  test("cancel() leaves neither the target nor the temp file") {
    val dir = tmpDir(); val m = ours(dir); val p = new Path(dir.toUri.toString + "0")
    val out = m.createAtomic(p, false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "the write goes to a temp file")
    out.cancel()
    out.close() // after cancel: a no-op
    assert(names(dir).isEmpty)
    val over = m.createAtomic(p, true)
    over.cancel()
    assert(names(dir).isEmpty && !m.exists(p))
  }

  test("an overwrite replaces the target and drops a stale checksummed " +
      ".crc, so a later read passes") {
    // Spark's FileSystem-based manager writes a checksummed .crc (its
    // FileContext-based one writes a .crc with checksums disabled)
    val dir = tmpDir(); val p = new Path(dir.toUri.toString + "0")
    write(fsBased(dir), p, "checksummed by hadoop")
    assert(names(dir) == Set("0", ".0.crc"))
    // the hazard: a read through Hadoop's FileSystem verifies new bytes
    // against the old checksum (one through its FileContext does not)
    val control = tmpDir(); val q = new Path(control.toUri.toString + "0")
    write(fsBased(control), q, "checksummed by hadoop")
    Files.write(control.resolve("0"), "other bytes".getBytes(UTF_8))
    intercept[ChecksumException](read(fsBased(control), q))

    write(ours(dir), p, "overwritten here", overwrite = true)
    assert(names(dir) == Set("0"))
    Seq(ours(dir), sparks(dir), fsBased(dir)).foreach(m =>
      assert(read(m, p) == "overwritten here"))
    // and back: Spark's manager overwrites a file written here
    write(sparks(dir), p, "spark again", overwrite = true)
    assert(read(ours(dir), p) == "spark again")
  }

  test("list, exists and delete behave as Spark's manager") {
    val dir = tmpDir(); val m = ours(dir); val s = sparks(dir)
    val root = new Path(dir.toUri)
    def at(n: String) = new Path(dir.toUri.toString + n)
    write(m, at("0"), "zero"); write(s, at("1"), "one"); write(m, at("2"), "two")
    m.mkdirs(at("sub/deeper"))
    val batches: PathFilter = p => scala.util.Try(p.getName.toLong).isSuccess
    def listed(x: CheckpointFileManager, f: PathFilter) =
      x.list(root, f).map(st => (st.getPath.getName, st.getLen, st.isDirectory)).toSet
    assert(listed(m, batches) == listed(s, batches))
    assert(listed(m, batches).map(_._1) == Set("0", "1", "2"))
    assert(listed(m, _ => true) == listed(s, _ => true), "neither lists a .crc")
    Seq("0", "1", "2", "3", "sub", "sub/deeper").foreach(n =>
      assert(m.exists(at(n)) == s.exists(at(n)), n))
    m.delete(at("1")); s.delete(at("2"))
    m.delete(at("missing")); s.delete(at("missing"))
    Seq("0", "1", "2").foreach(n => assert(m.exists(at(n)) == s.exists(at(n)), n))
    assert(names(dir) == Set("0", "sub"), "a delete takes the .crc with it")
    assert(m.isLocal && m.isLocal == s.isLocal)
    val made = new LocalCheckpointFiles(at("made/here"), conf).createCheckpointDirectory()
    assert(Files.isDirectory(dir.resolve("made/here")))
    assert(made == new FileContextBasedCheckpointFileManager(at("made/here"), conf)
      .createCheckpointDirectory())
  }

  test("a path on another filesystem goes to Spark's manager") {
    val dir = tmpDir()
    val c = conf
    c.set("fs.graftother.impl", classOf[OtherFs].getName)
    c.set("fs.graftother.impl.disable.cache", "true")
    c.set("fs.AbstractFileSystem.graftother.impl", classOf[OtherAfs].getName)
    val p = new Path("graftother:" + dir.toUri.getPath + "0")
    val m = new LocalCheckpointFiles(p, c)
    assert(!m.local && !m.isLocal)
    assert(m.default.getClass == classOf[FileContextBasedCheckpointFileManager])
    val out = m.createAtomic(p, false)
    assert(out.getClass == classOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    out.write("via spark".getBytes(UTF_8))
    out.close()
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) == "via spark")
    // and a session that names no manager class builds this one
    assert(CheckpointFileManager.create(new Path(dir.toUri), conf)
      .isInstanceOf[LocalCheckpointFiles])
  }

  test("install sets the manager only when no manager class is named") {
    assert(spark.conf.get(LocalCheckpointFiles.ConfKey) == classOf[LocalCheckpointFiles].getName)
    val fresh = spark.newSession()
    assert(fresh.conf.getOption(LocalCheckpointFiles.ConfKey).isEmpty)
    val named = spark.newSession()
    val theirs = classOf[FileContextBasedCheckpointFileManager].getName
    named.conf.set(LocalCheckpointFiles.ConfKey, theirs)
    LocalCheckpointFiles.install(named)
    assert(named.conf.get(LocalCheckpointFiles.ConfKey) == theirs)
    // CdcStream.start installs it on the session of the stream it starts
    import spark.implicits._
    val input = MemoryStream[LiveChange](fresh)
    val q = CdcStream.start(input.toDF(), Nil, input.toDF().schema, "t", Seq("id"),
      CdcStream.MemoryBus())
    try assert(fresh.conf.get(LocalCheckpointFiles.ConfKey) ==
      classOf[LocalCheckpointFiles].getName)
    finally q.stop()
  }

  test("a live checkpointed stream starts no process per micro-batch") {
    import spark.implicits._
    val input = MemoryStream[LiveChange](spark)
    val bus = CdcStream.MemoryBus()
    val ckpt = tmpDir().toString
    val q = CdcStream.start(input.toDF(), Seq(Subscription("s", "public", "t", Nil)),
      Seq.empty[LiveChange].toDF().drop("change_type", "commit_timestamp").schema, "t",
      Seq("id"), bus, triggerMs = 20L, checkpointLocation = Some(ckpt))
    def feed(from: Int, n: Int): Unit = (from until from + n).foreach { i =>
      input.addData(LiveChange(i.toLong, "INSERT", s"$i"))
      q.processAllAvailable()
    }
    val rec = new jdk.jfr.Recording()
    try {
      feed(0, 2) // the stream's start (directories, metadata) is not counted
      rec.enable("jdk.ProcessStart")
      rec.start()
      feed(2, 10)
      rec.stop()
    } finally q.stop()
    val jfr = Files.createTempFile("lcf", ".jfr")
    rec.dump(jfr); rec.close()
    // only the stream's own threads count: a session of another suite
    // cleaned up meanwhile removes its artifact directory with `rm -rf`
    val streamThread = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .queryExecutionThread.getId
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filter(e => Option(e.getThread).exists(t => t.getJavaThreadId == streamThread ||
        t.getJavaName.startsWith("Executor task launch worker")))
      .map(e => e.getString("command"))
    assert(bus.deliveries.size == 12)
    assert(names(Paths.get(ckpt, "commits")).count(n => !n.startsWith(".")) >= 10)
    assert(started.isEmpty, s"processes started: $started")
  }
}

object LocalCheckpointFilesSpec {
  final case class LiveChange(id: Long, change_type: String, commit_timestamp: String)

  /** The local disk under another scheme: a filesystem that is not `file:`. */
  final class OtherFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("graftother:///")
  }

  /** [[OtherFs]] for Hadoop's `FileContext`. */
  final class OtherAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new OtherFs, conf, "graftother", false)
}
