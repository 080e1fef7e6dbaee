package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` filesystem against Hadoop's stock classes, which
  * serve here as the reference: same mode bits, same link statuses.
  */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val stock = new RawLocalFileSystem()
  stock.initialize(URI.create("file:///"), conf)
  private val forkFree = new ForkFreeRawLocalFileSystem()
  forkFree.initialize(URI.create("file:///"), conf)

  private def withDir[A](body: JPath => A): A = {
    val dir = Files.createTempDirectory("graft_localfs")
    try body(dir)
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
    }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("setPermission sets the stock mode bits on files and directories") {
    withDir { dir =>
      for (bits <- Seq(0x1a4 /*0644*/, 0x1ed /*0755*/, 0x1c0 /*0700*/, 0x3ff /*01777*/);
           isDir <- Seq(false, true)) {
        val paths = Seq("stock", "forkfree").map { n =>
          val p = dir.resolve(s"$n-$bits-$isDir")
          if (isDir) Files.createDirectory(p) else Files.createFile(p)
        }
        val perm = new FsPermission(bits.toShort)
        stock.setPermission(new Path(paths(0).toString), perm)
        forkFree.setPermission(new Path(paths(1).toString), perm)
        assert(mode(paths(0)) == bits, f"stock chmod $bits%o on dir=$isDir")
        assert(mode(paths(1)) == mode(paths(0)), f"mode $bits%o on dir=$isDir")
      }
    }
  }

  /** Every field a caller can read, so two statuses compare whole. */
  private def shape(s: FileStatus): Seq[Any] = Seq(
    s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen,
    s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)

  private def outcome[A](f: => A): Either[Class[_], A] =
    try Right(f) catch { case e: java.io.IOException => Left(e.getClass) }

  test("getFileLinkStatus and getLinkTarget equal stock on files, dirs, links and missing paths") {
    withDir { dir =>
      val file = Files.write(dir.resolve("file"), "abc".getBytes)
      val sub = Files.createDirectory(dir.resolve("dir"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file.getFileName)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val missing = dir.resolve("missing")
      val cases = Seq(file, sub, link, dangling, missing)
      // plain and scheme-qualified spellings of each path
      val paths = cases.flatMap(p => Seq(new Path(p.toString), new Path(s"file:$p")))
      paths.foreach { p =>
        val want = outcome(shape(stock.getFileLinkStatus(p)))
        assert(outcome(shape(forkFree.getFileLinkStatus(p))) == want, s"status of $p")
        assert(outcome(forkFree.getLinkTarget(p)) == outcome(stock.getLinkTarget(p)),
          s"link target of $p")
      }
      assert(forkFree.getFileLinkStatus(new Path(link.toString)).getSymlink ==
        new Path(s"file:$file"), "a link's target is qualified")
      assert(forkFree.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
      intercept[FileNotFoundException](forkFree.getFileLinkStatus(new Path(missing.toString)))

      // the FileContext twin: same answers as Hadoop's own LocalFs
      val ffConf = new Configuration(conf)
      ffConf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      val stockFc = FileContext.getLocalFSFileContext(conf)
      val ffFc = FileContext.getLocalFSFileContext(ffConf)
      assert(ffFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
      assert(!stockFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
      paths.foreach { p =>
        assert(outcome(shape(ffFc.getFileLinkStatus(p))) ==
          outcome(shape(stockFc.getFileLinkStatus(p))), s"FileContext status of $p")
      }
      val (s, f) = (stockFc.getDefaultFileSystem, ffFc.getDefaultFileSystem)
      assert(f.getUri == s.getUri && f.getUriDefaultPort == s.getUriDefaultPort)
      assert(f.getServerDefaults(new Path(file.toString)).getBlockSize ==
        s.getServerDefaults(new Path(file.toString)).getBlockSize)
      assert(f.isValidName("a:b") && s.isValidName("a:b"))
    }
  }
}
