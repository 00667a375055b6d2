package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.io.{NioLocalFileSystem, NioRawLocalFileSystem}
import graft.streaming.{Replay, RetractionJoin}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The streaming I/O path `Engine.session` installs: `file:` through
  * [[NioLocalFileSystem]] and checkpoints through Spark's FileSystem-based
  * manager, so a micro-batch's offset, commit, state and sink files are
  * written without forking `chmod` or `readlink`.
  *
  * Hadoop's FileSystem cache is JVM-global and keeps the first `file:`
  * instance created. Every suite reaches Spark through
  * `SparkTestSession.spark` (`ExtensionsSpec` forces it before building
  * its sibling session), so that first instance is created under
  * `Engine.session`'s conf whichever suite runs first.
  */
class StreamingIoSpec extends AnyFunSuite {
  import SparkTestSession._

  test("Engine.session puts file: on NioLocalFileSystem and checkpoints on the FileSystem manager") {
    val conf = spark.sessionState.newHadoopConf()
    val local = new java.io.File(Engine.scratchDir("ckpt_mgr"))
    val dir = new Path(local.toURI)
    try {
      assert(dir.getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
      val mgr = CheckpointFileManager.create(dir, conf)
      assert(mgr.isInstanceOf[FileSystemBasedCheckpointFileManager], mgr.getClass)
    } finally graft.operators.TxnMarker.rmTree(local)
  }

  /** Commands of the processes `body` started, from a JFR recording. */
  private def spawns(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private def chmodOrReadlink(commands: Seq[String]): Seq[String] =
    commands.filter(c => c.contains("chmod") || c.contains("readlink"))

  test("a stateful two-batch replay forks no chmod or readlink") {
    import spark.implicits._
    val updates = (0 until 40).map { i =>
      RetractionJoin.Upd(i % 5, if (i % 2 == 0) "L" else "R", i / 2,
        i * 1.5, if (i % 7 == 6) -1 else 1)
    }.toDF()
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) batches.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val forked = chmodOrReadlink(spawns {
        val out = Replay.run(spark, updates, mode = "append",
          filesPerTrigger = 1, nFiles = 2, bigSink = true) { st =>
          RetractionJoin(st.as[RetractionJoin.Upd]).toDF()
        }
        assert(out.count() > 0)
      })
      assert(forked.isEmpty, forked.take(5).mkString("\n"))
      // progress events reach listeners asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (batches.get < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(batches.get === 2, "micro-batches with input")
    } finally spark.streams.removeListener(listener)
  }

  test("NioRawLocalFileSystem.setPermission sets every rwx mode without forking; the sticky bit takes Hadoop's path") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val f = Files.createTempFile("graft-perm", ".bin")
    def octal(m: String): Int = Integer.parseInt(m, 8)
    def modeOf(p: java.nio.file.Path): Int =
      Files.getPosixFilePermissions(p).asScala.toSeq
        .map(b => 1 << (8 - b.ordinal)).sum
    try {
      val forked = chmodOrReadlink(spawns {
        Seq("0000", "0400", "0600", "0644", "0666", "0700", "0755", "0777")
            .map(octal).foreach { m =>
          fs.setPermission(new Path(f.toUri), new FsPermission(m.toShort))
          assert(modeOf(f) === m, f"mode 0$m%o")
        }
      })
      assert(forked.isEmpty, forked.mkString("\n"))
      // the sticky bit has no NIO form, so reading it back proves the
      // mode went through Hadoop's own chmod
      fs.setPermission(new Path(f.toUri), new FsPermission(octal("1755").toShort))
      val unixMode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      assert((unixMode & octal("7777")) === octal("1755"), f"unix:mode 0$unixMode%o")
    } finally Files.deleteIfExists(f)
  }
}
