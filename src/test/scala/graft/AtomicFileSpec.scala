package graft

import graft.ingest.AtomicFile
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** What [[AtomicFile]] guarantees on the local filesystem: a text
  * publish is one system call and starts no process, a claim has one
  * winner, a replace never leaves a reader without a file or with a
  * stale checksum, and a failed publish leaves nothing behind. */
class AtomicFileSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val fs = FileSystem.getLocal(conf)

  private def dir(tag: String): java.nio.file.Path =
    Files.createTempDirectory(s"graft-af-$tag")

  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)

  private def names(d: java.nio.file.Path): Seq[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("a local text publish starts no process") {
    import jdk.jfr.consumer.RecordingFile
    val d = dir("noproc")
    val ptr = hpath(d.resolve("_version"))
    // the first use of Hadoop's local filesystem in a JVM may start a
    // process while its classes initialize; publishes after it must not
    AtomicFile.claim(conf, hpath(d.resolve("warm")), "warm\n")
    AtomicFile.replace(conf, ptr, "warm\n")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try (1 to 20).foreach { i =>
      assert(AtomicFile.claim(conf, hpath(d.resolve(f"v$i%08d")), s"b$i\n"))
      AtomicFile.replace(conf, ptr, s"data_v$i\n")
    } finally rec.stop()
    val dump = Files.createTempFile("graft-af", ".jfr")
    rec.dump(dump)
    rec.close()
    val me = Thread.currentThread().getId
    val started = RecordingFile.readAllEvents(dump).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
        e.getThread != null && e.getThread.getJavaThreadId == me)
    Files.delete(dump)
    assert(started.size == 0, "processes started, first: " +
      started.headOption.map(e => e.getString("command") + " from " +
        e.getStackTrace.getFrames.asScala.take(8).map(f =>
          s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .mkString(" < ")).getOrElse(""))
    assert(AtomicFile.read(fs, ptr) == "data_v20\n")
    assert(names(d).forall(n => !AtomicFile.isTemp(n) && !n.endsWith(".crc")))
  }

  test("claim: of 8 racing writers exactly one wins, and no temp remains") {
    val pool = Executors.newFixedThreadPool(8)
    try (1 to 10).foreach { round =>
      val d = dir("claim")
      val target = hpath(d.resolve("v00000001"))
      val gate = new CyclicBarrier(8)
      val won = (0 until 8).map { w =>
        pool.submit { () =>
          gate.await()
          w -> AtomicFile.claim(conf, target, s"writer $w\n")
        }
      }.map(_.get(60, TimeUnit.SECONDS))
      val winners = won.filter(_._2).map(_._1)
      assert(winners.size == 1, s"round $round: winners $winners")
      assert(AtomicFile.read(fs, target) == s"writer ${winners.head}\n")
      assert(names(d) == Seq("v00000001"), s"round $round")
    } finally pool.shutdownNow()
  }

  test("replace: a reader through Hadoop always finds a whole, checksum-" +
      "clean file") {
    val d = dir("swap")
    val target = hpath(d.resolve("deltalink"))
    // texts of differing lengths, so a checksum of another version
    // never verifies
    def text(i: Int) = s"https://graph.example.test/delta?token=$i" +
      ("x" * (i % 7)) + "\n"
    AtomicFile.replace(conf, target, text(0))
    val written = (0 to 200).map(text).toSet
    val done = new AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var reads = 0
    val reader = new Thread(() =>
      while (!done.get()) {
        try {
          val got = AtomicFile.read(fs, target)
          if (!written(got)) failures.add(s"partial read: $got")
          reads += 1
        } catch {
          case e @ (_: java.io.FileNotFoundException | _: ChecksumException) =>
            failures.add(e.toString)
        }
      })
    reader.start()
    try (1 to 200).foreach(i => AtomicFile.replace(conf, target, text(i)))
    finally { done.set(true); reader.join() }
    val failed = failures.size
    assert(failed == 0, s"failed reads of $reads, first: ${failures.peek()}")
    assert(AtomicFile.read(fs, target) == text(200))
    assert(names(d) == Seq("deltalink"))
  }

  test("replace over a Hadoop-written file drops its stale .crc") {
    val d = dir("crc")
    val target = hpath(d.resolve("_last_checkpoint"))
    val out = fs.create(target, false)
    try out.write("{\"version\":1}\n".getBytes("UTF-8")) finally out.close()
    assert(names(d) == Seq("._last_checkpoint.crc", "_last_checkpoint"))
    AtomicFile.replace(conf, target, "{\"version\":22,\"size\":3}\n")
    assert(AtomicFile.read(fs, target) == "{\"version\":22,\"size\":3}\n")
    assert(names(d) == Seq("_last_checkpoint"))
  }

  test("replaceWith: a writer that throws leaves the old file and nothing " +
      "else") {
    val d = dir("fail")
    val target = hpath(d.resolve("parked.parquet"))
    AtomicFile.replace(conf, target, "old\n")
    val boom = intercept[IllegalStateException] {
      AtomicFile.replaceWith(conf, target) { tmp =>
        // a Hadoop write, as LocalParquet's, leaves the temp's .crc too
        val out = fs.create(tmp, false)
        out.write("half".getBytes("UTF-8"))
        out.close()
        assert(Files.exists(Paths.get(tmp.getParent.toUri)
          .resolve(s".${tmp.getName}.crc")))
        throw new IllegalStateException("writer failed")
      }
    }
    assert(boom.getMessage == "writer failed")
    assert(AtomicFile.read(fs, target) == "old\n")
    assert(names(d) == Seq("parked.parquet"))
  }
}
