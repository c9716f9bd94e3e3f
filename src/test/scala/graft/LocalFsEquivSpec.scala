package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.io.NioRawLocalFileSystem

/** The fork-free `file:` classes behave like Hadoop's stock
  * RawLocalFileSystem / LocalFileSystem / LocalFs: same on-disk modes,
  * same link statuses, same checkpoint-manager contract. Each case runs
  * the same operations under a stock conf and under the session's conf
  * and compares what lands on disk. */
class LocalFsEquivSpec extends AnyFunSuite {
  import TestSpark._

  private val fileUri = URI.create("file:///")
  private def ours: Configuration = spark.sessionState.newHadoopConf()
  private def stock: Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }
  private def raw(fs: RawLocalFileSystem, conf: Configuration): RawLocalFileSystem = {
    fs.initialize(fileUri, conf); fs
  }
  private def tmp(): String = graft.streaming.Replay.workspace("graft_localfs_eq_")

  /** `rwxr-x---`-style mode plus the sticky bit, read from disk. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x3ff

  /** Every path below `root`, relative, with its mode. */
  private def modes(root: String): Map[String, Int] =
    Files.walk(Paths.get(root)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => Paths.get(root).relativize(p).toString -> mode(p.toString)).toMap

  /** The same mix of creates and mkdirs through both Hadoop APIs. */
  private def populate(conf: Configuration, root: String): Unit = {
    val fs = FileSystem.newInstance(fileUri, conf)
    try {
      fs.create(new Path(s"$root/fs/a/f")).close()
      fs.create(new Path(s"$root/fs/g"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 26, null)
        .close()
      fs.mkdirs(new Path(s"$root/fs/d/e"))
      fs.mkdirs(new Path(s"$root/fs/m"), new FsPermission("750"))
    } finally fs.close()
    val fc = FileContext.getFileContext(fileUri, conf)
    fc.create(new Path(s"$root/fc/a/f"), EnumSet.of(CreateFlag.CREATE), CreateOpts.createParent())
      .close()
    fc.mkdir(new Path(s"$root/fc/d/e"), FsPermission.getDirDefault, true)
    fc.rename(new Path(s"$root/fc/a/f"), new Path(s"$root/fc/a/r"))
  }

  test("create/mkdirs under the session umask leave the same modes as stock, .crc files included") {
    val (a, b) = (tmp(), tmp())
    populate(stock, a)
    populate(ours, b)
    val (sa, sb) = (modes(a), modes(b))
    assert(sa.keySet.exists(_.endsWith(".r.crc")) && sa.keySet.exists(_.endsWith(".f.crc")))
    assert(sa == sb)
  }

  private def same(x: FileStatus, y: FileStatus): Unit = {
    assert(x.getPath == y.getPath)
    assert((x.isFile, x.isDirectory, x.isSymlink, x.getLen, x.getModificationTime) ==
      (y.isFile, y.isDirectory, y.isSymlink, y.getLen, y.getModificationTime))
    if (x.isSymlink) assert(x.getSymlink == y.getSymlink)
  }

  test("getFileLinkStatus equals stock for a file, a dir, a missing path and a symlink") {
    val root = tmp()
    Files.write(Paths.get(s"$root/file"), "abc".getBytes)
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    val rawPair = (raw(new RawLocalFileSystem, stock), raw(new NioRawLocalFileSystem, ours))
    val fcPair = (FileContext.getFileContext(fileUri, stock), FileContext.getFileContext(fileUri, ours))
    // unqualified and `file:`-qualified spellings of each path
    for (name <- Seq("file", "dir", "link"); p <- Seq(new Path(s"$root/$name"),
      new Path(new File(s"$root/$name").toURI))) {
      same(rawPair._1.getFileLinkStatus(p), rawPair._2.getFileLinkStatus(p))
      same(fcPair._1.getFileLinkStatus(p), fcPair._2.getFileLinkStatus(p))
    }
    val link = new Path(s"$root/link")
    assert(rawPair._2.getFileLinkStatus(link).isSymlink)
    assert(fcPair._2.getFileLinkStatus(link).getSymlink.toUri.getPath == s"$root/file")
    val missing = new Path(s"$root/missing")
    for (get <- Seq[Path => FileStatus](rawPair._1.getFileLinkStatus, rawPair._2.getFileLinkStatus,
      fcPair._1.getFileLinkStatus, fcPair._2.getFileLinkStatus))
      intercept[FileNotFoundException](get(missing))
  }

  test("setPermission leaves the same mode as stock, sticky bit included") {
    val (a, b) = (tmp(), tmp())
    val fsA = raw(new RawLocalFileSystem, stock)
    val fsB = raw(new NioRawLocalFileSystem, ours)
    for (m <- Seq("1777", "0604", "0750", "0000")) {
      for ((fs, root) <- Seq(fsA -> a, fsB -> b)) {
        fs.mkdirs(new Path(s"$root/$m"))
        fs.setPermission(new Path(s"$root/$m"), new FsPermission(m))
      }
      assert(mode(s"$a/$m") == mode(s"$b/$m"))
      assert(mode(s"$b/$m") == Integer.parseInt(m, 8))
    }
  }

  test("CheckpointFileManager.createAtomic keeps its contract: no-overwrite raises, overwrite replaces, cancel leaves nothing") {
    val listings = Seq(stock, ours).map { conf =>
      val root = tmp()
      val cfm = CheckpointFileManager.create(new Path(root), conf)
      def write(name: String, text: String, overwrite: Boolean): Unit = {
        val out = cfm.createAtomic(new Path(s"$root/$name"), overwriteIfPossible = overwrite)
        out.write(text.getBytes); out.close()
      }
      def read(name: String) = new String(Files.readAllBytes(Paths.get(s"$root/$name")))
      write("0", "first", overwrite = false)
      intercept[FileAlreadyExistsException](write("0", "second", overwrite = false))
      assert(read("0") == "first")
      write("0", "third", overwrite = true)
      assert(read("0") == "third")
      val out = cfm.createAtomic(new Path(s"$root/1"), overwriteIfPossible = false)
      out.write("torn".getBytes)
      out.cancel()
      assert(!cfm.exists(new Path(s"$root/1")))
      // the refused rename's temp file stays behind, as in stock
      new File(root).list().map(_.replaceAll("[0-9a-f-]{36}", "<uuid>")).sorted.toSeq
    }
    assert(listings.head == listings.last)
  }
}
