package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.scalatest.funsuite.AnyFunSuite

/** The session's local file system (`graft.LocalFs`) keeps Hadoop's
  * contract while doing `chmod` and `readlink` in process: exact
  * permission bits, symlink status, no-overwrite renames and `.crc`
  * checksums. Every case goes through the file system and `FileContext`
  * the session's Hadoop configuration resolves, so a wiring change is
  * tested too.
  */
class LocalFsSpec extends AnyFunSuite {
  private val hadoopConf = SparkTestSession.spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = FileSystem.get(new URI("file:///"), hadoopConf)
  private def fc: FileContext = FileContext.getFileContext(new URI("file:///"), hadoopConf)

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("permission bits are set exactly: created file, created directory, setPermission") {
    val dir = Files.createTempDirectory("localfs_perm")
    val sub = dir.resolve("sub")
    assert(fs.mkdirs(new Path(sub.toString), new FsPermission("755")))
    assert(perms(sub) == "rwxr-xr-x")
    val file = sub.resolve("f")
    fs.create(new Path(file.toString), new FsPermission("644"), false, 4096,
      1.toShort, 1L << 20, null).close()
    assert(perms(file) == "rw-r--r--")
    fs.setPermission(new Path(file.toString), new FsPermission("640"))
    assert(perms(file) == "rw-r-----")
    fs.setPermission(new Path(sub.toString), new FsPermission("700"))
    assert(perms(sub) == "rwx------")
    // FsCreateModes (the mode FileContext builds for create and mkdir)
    // prints its toString as "{ masked: …, unmasked: … }"
    fs.setPermission(new Path(file.toString),
      FsCreateModes.create(new FsPermission("600"), new FsPermission("666")))
    assert(perms(file) == "rw-------")
  }

  test("a symlink's link status keeps isSymlink and its target; a missing path throws") {
    val dir = Files.createTempDirectory("localfs_link")
    val target = Files.write(dir.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink, s"$link lost its symlink status")
    assert(st.getSymlink.toUri.getPath == target.toString)
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1)
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("a FileContext rename onto an existing file needs OVERWRITE") {
    val dir = Files.createTempDirectory("localfs_rename")
    val (src, dst) = (new Path(dir.resolve("src").toString), new Path(dir.resolve("dst").toString))
    Seq(src -> "new", dst -> "old").foreach { case (p, s) =>
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(s.getBytes) finally out.close()
    }
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(Files.exists(dir.resolve("src")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes()) == "new") finally in.close()
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
  }

  test("writes keep their .crc sidecar and a flipped byte fails the read") {
    val dir = Files.createTempDirectory("localfs_crc")
    def check(name: String, write: Path => Unit, read: Path => Array[Byte]): Unit = {
      val p = new Path(dir.resolve(name).toString)
      write(p)
      assert(Files.exists(dir.resolve(s".$name.crc")), s"$name has no .crc sidecar")
      assert(new String(read(p)) == "checkpoint-log-entry")
      val raf = new RandomAccessFile(dir.resolve(name).toFile, "rw")
      try { raf.seek(3); val b = raf.read(); raf.seek(3); raf.write(b ^ 0x20) } finally raf.close()
      withClue(name)(intercept[ChecksumException](read(p)))
    }
    check("viaFileSystem",
      p => { val out = fs.create(p); try out.write("checkpoint-log-entry".getBytes) finally out.close() },
      p => { val in = fs.open(p); try in.readAllBytes() finally in.close() })
    check("viaFileContext",
      p => {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write("checkpoint-log-entry".getBytes) finally out.close()
      },
      // open(p, bufferSize): Hadoop's FilterFs.open(p) goes to the raw
      // file system and skips the checksum, for its own LocalFs too
      p => { val in = fc.open(p, 4096); try in.readAllBytes() finally in.close() })
  }
}
