package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.operators.IndexFs

/** Parity of [[LocalFsBinding]] with Hadoop's stock `file:` binding:
  * the same mode bits, `.crc` sidecars, checksum failures and symlink
  * statuses. Both bindings are built with `FileSystem.newInstance` from
  * the session's Hadoop conf, so neither comes from the JVM-wide cache
  * and both apply the same umask. */
class LocalFsBindingSpec extends SparkSpec {

  private def bindings(umask: Option[String]): (FileSystem, FileSystem) = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    val stockConf = new Configuration(conf)
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val uri = URI.create("file:///")
    (FileSystem.newInstance(uri, conf), FileSystem.newInstance(uri, stockConf))
  }

  /** Relative path → mode bits of every entry under `root`. */
  private def modes(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map(p => base.relativize(p).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS)))
      .toMap
    finally walk.close()
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("files and directories carry the stock mode bits and .crc sidecars under the same umask") {
    Seq(None, Some("027")).foreach { umask =>
      val (ours, stock) = bindings(umask)
      try {
        assert(ours.isInstanceOf[LocalFsBinding.FileSystem], "the session's conf binds file:")
        assert(stock.getClass == classOf[LocalFileSystem])
        def write(fs: FileSystem, base: String): Unit = {
          fs.mkdirs(new Path(s"$base/d/e"))
          fs.create(new Path(s"$base/d/f")).close()
          fs.mkdirs(new Path(s"$base/x"), new FsPermission("750"))
          fs.create(new Path(s"$base/x/g"), new FsPermission("640"), true, 4096,
            1.toShort, 1L << 20, null).close()
          fs.create(new Path(s"$base/x/h")).close()
          fs.setPermission(new Path(s"$base/x/h"), new FsPermission("604"))
          fs.setPermission(new Path(s"$base/d/e"), new FsPermission("711"))
          assert(IndexFs.writeSmallFileNoClobber(spark, fs, new Path(s"$base/x/commit"), "v"))
        }
        val root = Files.createTempDirectory("localfs_modes").toString
        write(ours, s"$root/ours")
        write(stock, s"$root/stock")
        val got = modes(s"$root/ours")
        assert(got == modes(s"$root/stock"), s"umask $umask")
        assert(Set("d/.f.crc", "x/.g.crc", "x/.commit.crc").subsetOf(got.keySet))
        assert(got("d/f") == (if (umask.isEmpty) "rw-r--r--" else "rw-r-----"))
        assert(got("d") == (if (umask.isEmpty) "rwxr-xr-x" else "rwxr-x---"))
      } finally { ours.close(); stock.close() }
    }
  }

  test("a written parquet part keeps its .crc, and a flipped byte still fails the read") {
    val dir = Files.createTempDirectory("localfs_crc").toString + "/t"
    spark.range(0, 2000).selectExpr("id", "cast(id * 7 as string) as s")
      .coalesce(1).write.parquet(dir)
    val listing = Files.list(Paths.get(dir))
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get finally listing.close()
    assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
    val raf = new java.io.RandomAccessFile(part.toFile, "rw")
    try { raf.seek(raf.length / 2); val b = raf.read(); raf.seek(raf.length / 2); raf.write(b ^ 0xff) }
    finally raf.close()
    val (ours, stock) = bindings(None)
    try Seq(ours, stock).foreach { fs =>
      val in = fs.open(new Path(part.toString))
      try assertThrows[ChecksumException](in.readAllBytes()) finally in.close()
    } finally { ours.close(); stock.close() }
    val ex = intercept[Exception](spark.read.parquet(dir).collect())
    assert(causes(ex).exists(_.isInstanceOf[ChecksumException]), ex.toString)
  }

  test("getFileLinkStatus answers as the stock binding for a symlink, a file and a directory") {
    val (ours, stock) = bindings(None)
    try {
      val root = Files.createTempDirectory("localfs_links")
      val target = root.resolve("target")
      Files.write(target, "body".getBytes("UTF-8"))
      Files.createSymbolicLink(root.resolve("link"), target)
      Files.createSymbolicLink(root.resolve("dangling"), root.resolve("absent"))
      Seq("link", "dangling", "target", "").foreach { name =>
        val p = new Path(root.resolve(name).toString)
        val (a, b) = (ours.getFileLinkStatus(p), stock.getFileLinkStatus(p))
        assert(a.isSymlink == b.isSymlink && a.isDirectory == b.isDirectory &&
          a.getPath == b.getPath && a.getLen == b.getLen, name)
        if (a.isSymlink) assert(a.getSymlink == b.getSymlink, name)
        assert(a.isSymlink == (name == "link" || name == "dangling"), name)
      }
    } finally { ours.close(); stock.close() }
  }

  test("an overwriting rename of a file is one rename: a checkpoint crashed at any point reads whole") {
    FaultFs.install(spark.sparkContext.hadoopConfiguration)
    val root = Files.createTempDirectory("localfs_overwrite").toString
    val ckpt = new Path(FaultFs.uri(s"$root/ck"))
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(): String = {
      val in = fs.open(ckpt)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    try {
      IndexFs.atomicWriteSmallFile(spark, fs, ckpt, "1")
      val counting = FaultFs.scope(root)
      IndexFs.atomicWriteSmallFile(spark, fs, ckpt, "2")
      assert(!counting.mutations.exists { case (_, m) => m.op == "delete" && m.path == s"$root/ck" },
        counting.mutations.mkString(", "))
      val n = counting.crashPoints
      (1 to n).foreach { k =>
        FaultFs.scope(root)
        IndexFs.atomicWriteSmallFile(spark, fs, ckpt, "old")
        FaultFs.scope(root).dieAt(k)
        assert(scala.util.Try(IndexFs.atomicWriteSmallFile(spark, fs, ckpt, "new")).isFailure, s"k=$k")
        FaultFs.scope(root)
        assert(Set("old", "new")(read()), s"k=$k of $n")
      }
    } finally FaultFs.unscope(root)
  }
}
