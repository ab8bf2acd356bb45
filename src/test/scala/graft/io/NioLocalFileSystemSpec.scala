package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The fork-free `file:` filesystem keeps Hadoop's local semantics:
  * umask-applied modes (for data and `.crc` files), special mode bits,
  * missing-path errors and link status. */
class NioLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("graft_niofs_")
  private val conf = new Configuration(false)
  conf.set("fs.permissions.umask-mode", "022")
  private val fs = new NioLocalFileSystem
  fs.initialize(new URI("file:///"), conf)

  private def path(name: String) = new Path(dir.resolve(name).toUri)
  private def mode(name: String) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve(name)))
  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null)

  override def afterAll(): Unit = {
    fs.close()
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  test("created files and mkdirs get Hadoop's umask-applied modes") {
    val out = fs.create(path("data"))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(mode("data") == "rw-r--r--")
    assert(mode(".data.crc") == "rw-r--r--")
    assert(fs.mkdirs(path("a/b")))
    assert(mode("a") == "rwxr-xr-x" && mode("a/b") == "rwxr-xr-x")
  }

  test("setPermission keeps the sticky bit") {
    Files.createDirectory(dir.resolve("sticky"))
    fs.setPermission(path("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val m = Files.getAttribute(dir.resolve("sticky"), "unix:mode").asInstanceOf[Int]
    assert((m & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8))
  }

  test("setPermission on a missing path throws FileNotFoundException") {
    intercept[FileNotFoundException] {
      fs.setPermission(path("missing"), new FsPermission(Integer.parseInt("644", 8).toShort))
    }
  }

  test("getFileLinkStatus of a file or directory equals getFileStatus") {
    Files.write(dir.resolve("f"), Array[Byte](1, 2, 3, 4, 5))
    Files.createDirectory(dir.resolve("d"))
    for (name <- Seq("f", "d")) {
      val link = fs.getFileLinkStatus(path(name))
      val plain = fs.getFileStatus(path(name))
      assert((link.getPath, link.getLen, link.isDirectory) ==
        (plain.getPath, plain.getLen, plain.isDirectory), name)
    }
  }

  test("getFileLinkStatus of a symlink answers as Hadoop's RawLocalFileSystem") {
    Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(new URI("file:///"), conf)
    // qualified (`file:/…`) and scheme-less paths take different routes
    // through Hadoop's readlink; both must match
    for (p <- Seq(path("link"), new Path(dir.resolve("link").toString)))
      assert(fields(fs.getFileLinkStatus(p)) == fields(hadoop.getFileLinkStatus(p)), p)
    hadoop.close()
  }

  test("every library session resolves file: to the NIO filesystems") {
    val hadoopConf = TestSpark.spark.sparkContext.hadoopConfiguration
    val local = FileSystem.newInstance(new URI("file:///"), hadoopConf)
    try assert(local.isInstanceOf[NioLocalFileSystem], local.getClass)
    finally local.close()
    val afs = FileContext.getFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }
}
