package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` filesystem is what Hadoop resolves, and it
  * leaves the same permissions and link statuses as stock Hadoop. */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def open(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private val stock = open(new RawLocalFileSystem)
  private val nio = open(new NioRawLocalFileSystem)

  private def freshDir(): java.nio.file.Path = Files.createTempDirectory("localfs")

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("core-site.xml on the classpath makes file: resolve to the fork-free classes") {
    val fs = FileSystem.get(URI.create("file:///"), new Configuration())
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration()).getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("created files and directories get stock Hadoop's permissions") {
    val dirs = Seq(stock, nio).map(fs => fs -> freshDir())
    val modes = dirs.map { case (fs, d) =>
      def p(n: String) = new Path(d.resolve(n).toString)
      fs.create(p("default")).close()
      fs.create(p("explicit"), new FsPermission(Integer.parseInt("640", 8).toShort),
        true, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(p("dir_default"), FsPermission.getDirDefault)
      fs.mkdirs(p("dir_explicit"), new FsPermission(Integer.parseInt("750", 8).toShort))
      fs.create(p("reset")).close()
      fs.setPermission(p("reset"), new FsPermission(Integer.parseInt("604", 8).toShort))
      Seq("default", "explicit", "dir_default", "dir_explicit", "reset")
        .map(n => n -> mode(d.resolve(n)))
    }
    assert(modes(1) == modes(0))
    assert(modes(1).toMap.apply("explicit") == "rw-r-----")
    assert(modes(1).toMap.apply("dir_explicit") == "rwxr-x---")
    assert(modes(1).toMap.apply("reset") == "rw----r--")
  }

  test("getFileLinkStatus matches stock for files, symlinks, dangling links and missing paths") {
    val d = freshDir()
    Files.write(d.resolve("file"), "abc".getBytes("UTF-8"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen)
    def status(fs: RawLocalFileSystem, n: String) =
      view(fs.getFileLinkStatus(new Path(d.resolve(n).toString)))
    for (n <- Seq("file", "link", "dangling"))
      assert(status(nio, n) == status(stock, n), n)
    assert(status(nio, "link")._4 && status(nio, "dangling")._4)
    assert(status(nio, "link")._5.map(_.toUri.getPath) == Some(d.resolve("file").toString))
    for (fs <- Seq(stock, nio))
      intercept[FileNotFoundException](status(fs, "missing"))
  }

  test("a sticky-bit setPermission still applies, through stock Hadoop") {
    val d = freshDir()
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    nio.setPermission(new Path(d.toString), sticky)
    val unixMode = Files.getAttribute(Paths.get(d.toString), "unix:mode").asInstanceOf[Int]
    assert((unixMode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8))
  }
}
