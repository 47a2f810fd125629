package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free `file` filesystem (sources/LocalFs.scala) is registered
  * from the classpath's core-site.xml and behaves as Hadoop's stock
  * `RawLocalFileSystem` on everything a store, commit or checkpoint does:
  * POSIX bits under a umask, symlink status, rename refusal, checksums.
  */
class LocalFsSpec extends GraftSpec {

  private def bits(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def raws(conf: Configuration) = {
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    val nio = new GraftRawLocalFileSystem
    nio.initialize(URI.create("file:///"), conf)
    (stock, nio)
  }

  test("the file scheme resolves to graft's classes for FileSystem and FileContext") {
    val fs = FileSystem.get(URI.create("file:///"), new Configuration)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[GraftRawLocalFileSystem])
    assert(FileSystem.getLocal(new Configuration).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
  }

  test("created files and made directories get the stock POSIX bits under a umask") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration
      conf.set(FsPermission.UMASK_LABEL, umask)
      val (stock, nio) = raws(conf)
      val dir = Files.createTempDirectory("graft-localfs-bits")
      def made(fs: FileSystem, tag: String): (JPath, JPath) = {
        val f = dir.resolve(s"$tag.file")
        fs.create(new Path(f.toString)).close()
        val d = dir.resolve(s"$tag.dir/sub")
        assert(fs.mkdirs(new Path(d.toString)))
        (f, d)
      }
      val (sf, sd) = made(stock, "stock")
      val (nf, nd) = made(nio, "nio")
      assert(bits(nf) == bits(sf), s"file bits under umask $umask")
      assert(bits(nd) == bits(sd), s"dir bits under umask $umask")
      assert(bits(nd.getParent) == bits(sd.getParent))
    }
  }

  test("setPermission round-trips 0600 and 0700") {
    val (_, nio) = raws(new Configuration)
    val dir = Files.createTempDirectory("graft-localfs-perm")
    val f = Files.createFile(dir.resolve("f"))
    nio.setPermission(new Path(f.toString), new FsPermission(Integer.parseInt("600", 8).toShort))
    assert(bits(f) == "rw-------")
    nio.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(bits(dir) == "rwx------")
    assert(nio.getFileStatus(new Path(f.toString)).getPermission.toShort ==
      Integer.parseInt("600", 8))
  }

  test("getFileLinkStatus: a symlink's target, a regular file, a missing path") {
    val (stock, nio) = raws(new Configuration)
    val dir = Files.createTempDirectory("graft-localfs-link")
    val target = Files.createFile(dir.resolve("target"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val ls = nio.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath == target.toString)
    assert(ls.getSymlink == stock.getFileLinkStatus(new Path(link.toString)).getSymlink)
    val fs = nio.getFileLinkStatus(new Path(target.toString))
    assert(!fs.isSymlink && fs.isFile)
    intercept[FileNotFoundException](
      nio.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("FileContext rename with Rename.NONE refuses an existing destination") {
    val fc = FileContext.getLocalFSFileContext
    val dir = Files.createTempDirectory("graft-localfs-rename")
    val src = new Path(dir.resolve("src").toString)
    val dst = new Path(dir.resolve("dst").toString)
    for (p <- Seq(src, dst)) fc.create(p).build().close()
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && Files.exists(dir.resolve("dst")))
  }

  test("FileSystem and FileContext writes still leave .crc side files") {
    val dir = Files.createTempDirectory("graft-localfs-crc")
    val fs = FileSystem.get(URI.create("file:///"), new Configuration)
    val out = fs.create(new Path(dir.resolve("a").toString))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    FileContext.getLocalFSFileContext
      .create(new Path(dir.resolve("b").toString)).build().close()
    assert(Files.exists(dir.resolve(".a.crc")))
    assert(Files.exists(dir.resolve(".b.crc")))
  }
}
