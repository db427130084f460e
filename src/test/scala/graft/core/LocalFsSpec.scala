package graft.core

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}

import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The session's `file://` FileSystems set permissions in-process, and
  * every mode they leave on disk is the one the stock local FileSystems
  * leave on a sibling path. */
class LocalFsSpec extends SparkSpec {

  private def sessionConf(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockConf(umask: String): Configuration = {
    val c = sessionConf(umask)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private val FileUri = URI.create("file:///")

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  private def tempDir(): Path = new Path(graft.TempDirs.create("localfs").toString)

  test("the session conf resolves file:// to the in-process classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    // newInstance: the FileSystem cache ignores conf, so a cached stock
    // instance from an earlier suite could otherwise come back
    val fs = FileSystem.newInstance(FileUri, conf)
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    } finally fs.close()
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("no scheme but file is remapped: hdfs and s3a keep the stock entries") {
    val session = spark.sparkContext.hadoopConfiguration
    val stock = new Configuration()
    val Impl = """fs\.(AbstractFileSystem\.)?([^.]+)\.impl""".r
    val changed = (session.asScala.map(_.getKey) ++ stock.asScala.map(_.getKey)).toSet
      .filter(k => Impl.matches(k) && session.get(k) != stock.get(k))
    assert(changed == Set("fs.file.impl", "fs.AbstractFileSystem.file.impl"))
    assert(FileSystem.getFileSystemClass("hdfs", session).getName ==
      "org.apache.hadoop.hdfs.DistributedFileSystem")
  }

  test("created files, .crc sidecars and mkdirs dirs get the stock modes") {
    for (umask <- Seq("022", "027", "077")) {
      val base = tempDir()
      val nio = FileSystem.newInstance(FileUri, sessionConf(umask))
      val stock = FileSystem.newInstance(FileUri, stockConf(umask))
      try {
        assert(!stock.isInstanceOf[NioLocalFileSystem])
        // each side writes the same layout under its own sibling root
        val roots = Seq(nio, stock).zip(Seq("nio", "stock")).map { case (fs, name) =>
          val root = new Path(base, name)
          fs.mkdirs(new Path(root, "dflt"))
          fs.mkdirs(new Path(root, "moded"), new FsPermission(octal("751")))
          val out = fs.create(new Path(root, "dflt/a.bin"))
          out.write(Array[Byte](1, 2, 3)); out.close()
          FileSystem.create(fs, new Path(root, "moded/b.bin"), new FsPermission(octal("640")))
            .close()
          root
        }
        val rel = Seq("", "dflt", "moded", "dflt/a.bin", "dflt/.a.bin.crc",
          "moded/b.bin", "moded/.b.bin.crc")
        rel.foreach { r =>
          val Seq(n, s) = roots.map(root => if (r.isEmpty) root else new Path(root, r))
          assert(nio.exists(n), s"$n written")
          assert(mode(n) == mode(s), f"umask $umask $r: ${mode(n)}%o vs stock ${mode(s)}%o")
        }
        // not vacuous: the JVM's own umask is 022, so 077 must show
        if (umask == "077") assert(mode(new Path(roots.head, "dflt/a.bin")) == octal("600"))
      } finally { nio.close(); stock.close() }
    }
  }

  test("FileContext creates and mkdirs match the stock LocalFs, with .crc") {
    val base = tempDir()
    val Seq(nio, stock) = Seq(sessionConf("027"), stockConf("027"))
      .map(c => FileContext.getFileContext(c))
    assert(nio.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(!stock.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val roots = Seq(nio -> "nio", stock -> "stock").map { case (fc, name) =>
      val root = new Path(base, name)
      fc.mkdir(new Path(root, "offsets"), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(root, "offsets/0"),
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write("v1".getBytes); out.close()
      fc.rename(new Path(root, "offsets/0"), new Path(root, "offsets/1"))
      root
    }
    Seq("", "offsets", "offsets/1", "offsets/.1.crc").foreach { r =>
      val Seq(n, s) = roots.map(root => if (r.isEmpty) root else new Path(root, r))
      assert(nio.util.exists(n), s"$n written")
      assert(mode(n) == mode(s), f"$r: ${mode(n)}%o vs stock ${mode(s)}%o")
    }
  }

  test("sticky and inherited setgid bits go through the stock chmod") {
    val base = tempDir()
    val nio = FileSystem.newInstance(FileUri, sessionConf("022"))
    val stock = FileSystem.newInstance(FileUri, stockConf("022"))
    try {
      val shared = new Path(base, "shared")
      nio.mkdirs(shared)
      nio.setPermission(shared, new FsPermission(octal("1777")))
      assert(mode(shared) == octal("1777"), f"sticky kept: ${mode(shared)}%o")
      // a setgid parent: mkdir(2) gives children the bit, and GNU
      // `chmod 0755` keeps it on a directory
      val group = new Path(base, "group")
      nio.mkdirs(group)
      Files.setAttribute(Paths.get(group.toUri.getPath), "unix:mode", Int.box(octal("2775")))
      Seq(nio -> "n", stock -> "s").foreach { case (fs, d) =>
        fs.mkdirs(new Path(group, d), new FsPermission(octal("755")))
      }
      assert(mode(new Path(group, "n")) == mode(new Path(group, "s")),
        f"${mode(new Path(group, "n"))}%o vs stock ${mode(new Path(group, "s"))}%o")
      // and a later plain mode on the sticky dir clears it, as stock does
      nio.setPermission(shared, new FsPermission(octal("755")))
      assert(mode(shared) == octal("755"))
    } finally { nio.close(); stock.close() }
  }
}
