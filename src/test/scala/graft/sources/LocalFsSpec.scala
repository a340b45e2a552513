package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.SparkTestSession
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] against the stock local filesystem it replaces: the same
  * modes, the same link answers, and the binding `Engine.session` makes.
  */
class LocalFsSpec extends AnyFunSuite with SparkTestSession {

  private val fileUri = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(fileUri, c); fs
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  // in this shared test JVM the FileSystem cache (keyed by scheme and
  // user, not by fs.file.impl) has already served every earlier suite
  test("Engine.session binds file: to the fork-free FileSystem and FileContext") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(fileUri, hconf)
    assert(fs.getClass === classOf[LocalFs.Checksummed])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[LocalFs.Raw])
    assert(new Path(graft.Scratch.dir("graft-localfs"))
      .getFileSystem(hconf).getClass === classOf[LocalFs.Checksummed])
    assert(FileContext.getFileContext(fileUri, hconf).getDefaultFileSystem.getClass ===
      classOf[LocalFs.Context])
  }

  test("files and directories get the stock modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val c = conf(umask)
      val stockAfs = AbstractFileSystem.createFileSystem(fileUri, {
        val s = new Configuration(c)
        s.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
        s
      })
      val faces = Seq(
        "stock" -> (init(new LocalFileSystem(), c),
          FileContext.getFileContext(stockAfs, c)),
        "nio" -> (init(new LocalFs.Checksummed, c),
          FileContext.getFileContext(new LocalFs.Context(fileUri, c), c)))
      val modes = faces.map { case (name, (fs, fc)) =>
        val root = java.nio.file.Paths.get(graft.Scratch.dir(s"graft-mode-$name-"))
        val r = new Path(root.toUri)
        fs.mkdirs(new Path(r, "a/b"))
        fs.create(new Path(r, "a/b/f")).close()
        fc.mkdir(new Path(r, "c/d"), FsPermission.getDirDefault, true)
        val out = fc.create(new Path(r, "c/d/g.tmp"),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(1); out.close()
        fc.rename(new Path(r, "c/d/g.tmp"), new Path(r, "c/d/g"))
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "c", "c/d", "c/d/g", "c/d/.g.crc")
          .map(rel => rel -> mode(root.resolve(rel)))
      }
      assert(modes(1) === modes(0), s"umask $umask")
      val (dirMode, fileMode) =
        if (umask == "022") ("rwxr-xr-x", "rw-r--r--") else ("rwx------", "rw-------")
      assert(modes(0).toMap.apply("a/b") === dirMode)
      assert(modes(0).toMap.apply("a/b/f") === fileMode)
    }
  }

  test("getFileLinkStatus matches stock on a file, a directory, a symlink and a missing path") {
    val c = conf("022")
    val stock = init(new RawLocalFileSystem(), c)
    val nio = init(new LocalFs.Raw, c)
    val root = java.nio.file.Paths.get(graft.Scratch.dir("graft-link"))
    val file = Files.write(root.resolve("f"), "x".getBytes)
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("l"), file)
    def view(s: FileStatus) = (s.getPath, s.getLen, s.isFile, s.isDirectory,
      s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getModificationTime)
    // both spellings: stock forks `readlink` on the path's string form,
    // so it reports a link only through a scheme-less path
    for (x <- Seq(file, dir, link); p <- Seq(new Path(x.toString), new Path(x.toUri))) {
      val want = view(stock.getFileLinkStatus(p))
      assert(view(nio.getFileLinkStatus(p)) === want, p)
    }
    val viaLink = nio.getFileLinkStatus(new Path(link.toString))
    assert(viaLink.isSymlink && viaLink.getSymlink.toUri.getPath === file.toString)
    val missing = new Path(root.resolve("nope").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("a sticky-bit setPermission still applies") {
    val nio = init(new LocalFs.Raw, conf("022"))
    val dir = java.nio.file.Paths.get(graft.Scratch.dir("graft-sticky"))
    nio.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val unixMode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((unixMode & Integer.parseInt("7777", 8)) === Integer.parseInt("1777", 8))
    nio.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
    assert(mode(dir) === "rwxr-x---")
  }
}
