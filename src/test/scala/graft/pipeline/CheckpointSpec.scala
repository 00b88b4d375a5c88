package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The checkpoint store on its own: publishing under concurrent writers
  * and readers, and which roots it accepts. */
class CheckpointSpec extends AnyFunSuite {

  test("two writers and a reader of one block: every read is one whole payload") {
    val store = new CheckpointStore(Files.createTempDirectory("graft-ckpt-race").toString)
    val pid = Runner.newProcessingId()
    val payloads = Seq(Array.fill(64 * 1024)('a'.toByte), Array.fill(48 * 1024)('b'.toByte))
    val published = new CountDownLatch(1)
    val writing = new CountDownLatch(payloads.size)
    val errors = new ConcurrentLinkedQueue[String]()
    val writers = payloads.map { bytes =>
      new Thread(() =>
        try (1 to 200).foreach { _ =>
          store.saveOutput("race", pid, "block", Seq(0 -> bytes))
            .foreach { case (root, msg) => errors.add(s"write to $root: $msg") }
          published.countDown()
        } finally writing.countDown())
    }
    writers.foreach(_.start())
    published.await()
    var reads = 0
    while (writing.getCount > 0 || reads == 0) {
      reads += 1
      store.loadOutput("race", pid, "block") match {
        case Some(Seq((0, got))) if payloads.exists(_.sameElements(got)) => ()
        case other => errors.add(s"read $reads: " + other.map(_.map { case (i, b) =>
          s"row $i, ${b.length} bytes" }.mkString(", ")).getOrElse("nothing"))
      }
    }
    writers.foreach(_.join())
    if (!errors.isEmpty)
      fail(s"${errors.size} bad writes or reads, first: " + errors.asScala.take(5).mkString("; "))
  }

  test("a root with a scheme other than file: is refused and named") {
    Seq(Seq("hdfs://nn/x"), Seq(Files.createTempDirectory("graft-ok").toString, "s3a://b/p"))
      .foreach { roots =>
        val e = intercept[IllegalArgumentException](new CheckpointStore(roots))
        assert(e.getMessage.contains(roots.last), e.getMessage)
      }
    assert(!Files.exists(Paths.get("hdfs:")) && !Files.exists(Paths.get("s3a:")))
    // a file: URI names the same directory as its path
    val dir = Files.createTempDirectory("graft-file-uri")
    val byUri = new CheckpointStore(dir.toUri.toString)
    assert(byUri.saveOutput("uri", "p", "b", Seq(0 -> "x".getBytes("UTF-8"))).isEmpty)
    assert(Files.exists(dir.resolve("uri/p/b/output_0.txt")))
    assert(new CheckpointStore(dir.toString).loadOutput("uri", "p", "b")
      .map(_.map(r => new String(r._2, "UTF-8"))).contains(Seq("x")))
  }
}
