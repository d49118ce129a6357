package graft.sources

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem with HDFS-style rename failure: `rename` reports
  * failure by returning false instead of throwing. */
class FalseRenameLocalFs extends NioRawLocalFileSystem {
  override def getUri: URI = URI.create(s"${FalseRenameFs.Scheme}:///")
  override def getScheme: String = FalseRenameFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = false
}

/** [[FalseRenameLocalFs]] as seen through FileContext. */
class FalseRenameFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FalseRenameLocalFs, conf,
      FalseRenameFs.Scheme, false)

object FalseRenameFs {
  val Scheme = "falsefs"

  def open(): FileSystem = {
    val conf = new Configuration()
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[FalseRenameFs].getName)
    val fs = new FalseRenameLocalFs
    fs.initialize(URI.create(s"$Scheme:///"), conf)
    fs
  }
}

/** Every tear point of the publish-once commit, replayed: each must end
  * with exactly one publish and no further call of `write`. */
class LedgerSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def freshDir(): Path =
    new Path(Files.createTempDirectory("ledger").toString)

  private def touch(p: Path, body: String = "x"): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Visible names under `p`, relative, recursively (checksum sidecars
    * are the local filesystem's, not the artifact's). */
  private def listing(p: Path): Set[String] = {
    val root = java.nio.file.Paths.get(p.toUri.getPath)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).filterNot(_.endsWith(".crc")).toSet
  }

  /** A `write` that counts its calls and leaves one part file. */
  private final class Writer {
    var calls = 0
    def apply(tmp: Path): Unit = {
      calls += 1
      touch(new Path(tmp, "part-0"), s"attempt $calls")
    }
  }

  test("publish, then every replay is a no-op that never calls write") {
    val dest = new Path(freshDir(), "batch_0")
    val w = new Writer
    assert(Ledger.publishOnce(fs, dest)(w(_)))
    assert(listing(dest) == Set("part-0"))
    assert(!fs.exists(Ledger.tmpOf(dest)))
    // crash after the rename: the caller never learned of the publish
    assert(!Ledger.publishOnce(fs, dest)(w(_)))
    assert(!Ledger.publishOnce(fs, dest)(w(_)))
    assert(w.calls == 1)
  }

  test("crash before the rename: the replay clears the debris and publishes once") {
    val dest = new Path(freshDir(), "v=3")
    val tmp = Ledger.tmpOf(dest)
    assert(tmp.getName == ".tmp_v_3")
    var calls = 0
    intercept[IllegalStateException] {
      Ledger.publishOnce(fs, dest) { t =>
        calls += 1
        touch(new Path(t, "junk"))
        throw new IllegalStateException("crash mid-write")
      }
    }
    assert(!fs.exists(dest) && fs.exists(new Path(tmp, "junk")))
    val w = new Writer
    assert(Ledger.publishOnce(fs, dest)(w(_)))
    assert(listing(dest) == Set("part-0"), "debris leaked into the publish")
    assert(!fs.exists(tmp))
    assert(!Ledger.publishOnce(fs, dest)(w(_)))
    assert(calls == 1 && w.calls == 1)
  }

  test("lost race: dest published during write stays untouched, no nested temp dir") {
    val dest = new Path(freshDir(), "batch_7")
    val w = new Writer
    // a concurrent attempt wins the publish while this one writes
    assert(Ledger.publishOnce(fs, dest) { tmp =>
      touch(new Path(dest, "winner"))
      w(tmp)
    })
    assert(listing(dest) == Set("winner"),
      "the losing attempt's temp dir must not land inside the winner")
    assert(!fs.exists(Ledger.tmpOf(dest)))
    assert(!Ledger.publishOnce(fs, dest)(w(_)))
    assert(w.calls == 1)
  }

  test("a rename that reports failure throws unless dest exists") {
    val ffs = FalseRenameFs.open()
    val dir = freshDir()
    // failure with dest absent: the publish must fail loudly, never
    // leave an unmarked "attempted" batch behind
    val lost = new Path(dir, "batch_1")
    val w = new Writer
    val ex = intercept[IllegalStateException] {
      Ledger.publishOnce(ffs, lost)(w(_))
    }
    assert(ex.getMessage.contains("publish failed"))
    assert(!fs.exists(lost))
    // failure while dest exists: a concurrent attempt won — complete
    val won = new Path(dir, "batch_2")
    assert(Ledger.publishOnce(ffs, won) { tmp =>
      fs.mkdirs(won)
      w(tmp)
    })
    assert(fs.exists(won))
    assert(!Ledger.publishOnce(ffs, won)(w(_)))
    assert(w.calls == 2)
  }

  test("replaceSmall torn before its flip: readers still see the old body") {
    val p = new Path(freshDir(), "CURRENT")
    assert(Ledger.readSmall(fs, p).isEmpty)
    Ledger.replaceSmall(fs, p, "gen=0")
    touch(Ledger.tmpOf(p), "gen=1") // the torn attempt's temp file
    assert(Ledger.readSmall(fs, p).contains("gen=0"))
    Ledger.replaceSmall(fs, p, "gen=1")
    assert(Ledger.readSmall(fs, p).contains("gen=1"))
    assert(!fs.exists(Ledger.tmpOf(p)))
  }

  test("audit: no Hadoop rename in main code outside the Ledger and FileBus's segment publish") {
    val root = new java.io.File("src/main/scala").toPath
    assert(Files.isDirectory(root), s"run from the repository root ($root)")
    val calls = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val rel = root.relativize(f).toString
        Files.readAllLines(f).asScala.map(_.trim).zipWithIndex.collect {
          case (code, i) if !code.startsWith("*") && !code.startsWith("/*") &&
              !code.startsWith("//") && code.contains(".rename(") =>
            (rel, i + 1, code)
        }
      }
    val (ledger, rest) = calls.partition(_._1 == "graft/sources/Ledger.scala")
    assert(ledger.nonEmpty, "the audit no longer sees the Ledger's own rename")
    val (segment, stray) = rest.partition { case (rel, _, code) =>
      rel == "graft/streaming/FileBus.scala" &&
        code.contains("fcOf(dir).rename(tmp, target)")
    }
    assert(segment.size == 1, s"FileBus segment publish: $segment")
    assert(stray.isEmpty,
      "publish through graft.sources.Ledger instead of a hand-written " +
        s"rename: ${stray.mkString("; ")}")
  }
}
