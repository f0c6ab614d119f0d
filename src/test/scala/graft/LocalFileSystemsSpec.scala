package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** graft's fork-free local filesystem keeps stock Hadoop's observable
  * behaviour: permission bits, checksum sidecars and their verification,
  * symlink status, and rename-without-overwrite refusal. */
class LocalFileSystemsSpec extends SparkSpec {

  private val local = URI.create("file:///")
  private def conf: Configuration = org.apache.spark.sql.graft.bridge.hadoopConf(spark)
  private def tmp(): JPath = Files.createTempDirectory("graft_localfs")
  private def stockRaw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(local, new Configuration())
    fs
  }
  private def nioRaw: NioRawLocalFileSystem = {
    val fs = new NioRawLocalFileSystem
    fs.initialize(local, conf)
    fs
  }
  private def bits(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def write(fc: FileContext, p: Path, body: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  test("Sessions.local resolves file: to graft's classes for both APIs") {
    assert(FileSystem.newInstance(local, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem],
      "the cached file: FileSystem Spark's writers share")
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("permission bits match stock Hadoop for 0644, 0755 and 0600") {
    val dir = tmp()
    for ((mode, want) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x", "600" -> "rw-------")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      for (isDir <- Seq(false, true)) {
        def make(name: String): JPath =
          if (isDir) Files.createDirectory(dir.resolve(name)) else Files.createFile(dir.resolve(name))
        val (s, n) = (make(s"stock-$mode-$isDir"), make(s"nio-$mode-$isDir"))
        stockRaw.setPermission(new Path(s.toString), perm)
        nioRaw.setPermission(new Path(n.toString), perm)
        assert(bits(s) == want && bits(n) == want, s"mode $mode (directory: $isDir)")
      }
    }
    // the sticky bit is beyond java.nio: the stock path still sets it
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    nioRaw.setPermission(new Path(sticky.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(nioRaw.getFileStatus(new Path(sticky.toString)).getPermission.getStickyBit)
  }

  test("create through both APIs applies the umask like stock Hadoop") {
    val dir = tmp()
    val perm = new FsPermission(Integer.parseInt("666", 8).toShort)
    val stock = FileContext.getLocalFSFileContext(new Configuration())
    val nio = FileContext.getFileContext(local, conf)
    for ((fc, name) <- Seq(stock -> "stock", nio -> "nio")) {
      fc.create(new Path(s"$dir/$name"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        Options.CreateOpts.perms(perm)).close()
      fc.mkdir(new Path(s"$dir/$name-d"), FsPermission.getDirDefault, false)
    }
    assert(bits(dir.resolve("nio")) == bits(dir.resolve("stock")))
    assert(bits(dir.resolve("nio-d")) == bits(dir.resolve("stock-d")))
  }

  test(".crc sidecars are still written and still verified") {
    val dir = tmp()
    val fc = FileContext.getFileContext(local, conf)
    write(fc, new Path(s"$dir/a"), "offset log entry")
    assert(Files.exists(dir.resolve(".a.crc")), "FileContext write leaves a checksum sidecar")
    val fs = FileSystem.get(local, conf)
    val out = fs.create(new Path(s"$dir/b"))
    try out.write("sink part".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(dir.resolve(".b.crc")), "FileSystem write leaves a checksum sidecar")
    assert(fs.isInstanceOf[LocalFileSystem])
    // corrupt the data behind the sidecar's back: the read must fail
    Files.write(dir.resolve("b"), "sink parX".getBytes("UTF-8"))
    intercept[ChecksumException] {
      val in = fs.open(new Path(s"$dir/b"))
      try in.readAllBytes() finally in.close()
    }
  }

  test("symlink status keeps isSymlink and its target") {
    val dir = tmp()
    val target = Files.createFile(dir.resolve("target"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val p = new Path(link.toString)
    val (stock, nio) = (stockRaw.getFileLinkStatus(p), nioRaw.getFileLinkStatus(p))
    assert(stock.isSymlink && nio.isSymlink)
    assert(nio.getSymlink == stock.getSymlink && nio.getSymlink.toUri.getPath == target.toString)
    // a plain file is not a symlink and keeps its status
    val plain = nioRaw.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 0L)
    val fcLink = FileContext.getFileContext(local, conf).getFileLinkStatus(new Path(link.toString))
    assert(fcLink.isSymlink && fcLink.getSymlink.toUri.getPath == target.toString)
  }

  test("FileContext rename without overwrite onto an existing file still throws") {
    val dir = tmp()
    val fc = FileContext.getFileContext(local, conf)
    val (src, dst) = (new Path(s"$dir/.batch.tmp"), new Path(s"$dir/7"))
    write(fc, dst, "committed by the first writer")
    write(fc, src, "a concurrent writer's batch")
    // HDFSMetadataLog's guard against two writers of one batch id
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(new String(Files.readAllBytes(dir.resolve("7")), "UTF-8") == "committed by the first writer")
    // with OVERWRITE the rename lands, sidecar included
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve(".batch.tmp")) && !Files.exists(dir.resolve("..batch.tmp.crc")))
    assert(Files.exists(dir.resolve(".7.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "a concurrent writer's batch") finally in.close()
  }
}
