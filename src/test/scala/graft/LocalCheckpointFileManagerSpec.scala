package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The checkpoint writer every session uses for `file:` paths
  * ([[Sessions.builder]]): publish semantics that the streaming logs rely
  * on, and compatibility with the `.crc` sidecars of Spark's default writer.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def fixture(): (java.nio.file.Path, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("graft_lcfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
  }

  test("no-overwrite publish onto an existing file throws FileAlreadyExistsException, original intact") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) === "first")
    assert(names(dir) === Set("0"), "a temp file was left behind")
  }

  test("two writers racing on one name produce exactly one winner") {
    val (dir, fm) = fixture()
    for (round <- 0 until 20) {
      val p = new Path(dir.toUri.toString, round.toString)
      val barrier = new CyclicBarrier(2)
      val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      val writers = Seq("a", "b").map { who =>
        new Thread(() => {
          val out = fm.createAtomic(p, overwriteIfPossible = false)
          out.write(s"$who-$round".getBytes(UTF_8))
          barrier.await()
          val won = try { out.close(); true }
            catch { case _: FileAlreadyExistsException => out.cancel(); false }
          outcomes.put(who, won)
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val winners = outcomes.asScala.filter(_._2).keys.toSeq
      assert(outcomes.size === 2 && winners.size === 1, s"round $round: $outcomes")
      assert(read(fm, p) === s"${winners.head}-$round")
    }
    assert(names(dir) === (0 until 20).map(_.toString).toSet,
      "a temp file was left behind")
  }

  test("cancel leaves neither the file nor its temp file") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a no-op after cancel, as with Spark's writers
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("overwrite replaces the file and removes its stale .crc") {
    val (dir, fm) = fixture()
    val p = new Path(dir.toUri.toString, "state.zip")
    // Spark's default writer goes through Hadoop's checksummed local file
    // system, which leaves a .state.zip.crc sidecar
    val local = FileSystem.getLocal(conf)
    val old = local.create(p, true)
    old.write("old".getBytes(UTF_8))
    old.close()
    assert(names(dir) === Set("state.zip", ".state.zip.crc"))
    assert(read(fm, p) === "old")
    write(fm, p, "new and longer", overwrite = true)
    assert(names(dir) === Set("state.zip"))
    // a stale sidecar would fail this read with a ChecksumException
    assert(read(fm, p) === "new and longer")
    assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq === Seq("state.zip"))
  }

  test("a non-file: path gets Spark's stock manager") {
    val (dir, localFm) = fixture()
    assert(localFm.isLocal)
    assert(!localFm.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
    // a view file system whose one mount point is the local directory:
    // another scheme, no server
    val viewConf = new Configuration(conf)
    viewConf.set("fs.viewfs.mounttable.graft.link./ckpt", dir.toUri.toString)
    val viewFm = new LocalCheckpointFileManager(new Path("viewfs://graft/ckpt"), viewConf)
    assert(viewFm.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
    val out = viewFm.createAtomic(new Path("viewfs://graft/ckpt/0"), overwriteIfPossible = false)
    out.write("via viewfs".getBytes(UTF_8))
    out.close()
    assert(read(localFm, new Path(dir.toUri.toString, "0")) === "via viewfs")
    // the stock manager writes through Hadoop's checksummed file system
    assert(names(dir) === Set("0", ".0.crc"))
  }
}
