package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{ChecksumException, FileContext, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session's fork-free `file:` filesystem: installed, bit-for-bit
  * the stock permissions, and still checksummed. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def conf = spark.sparkContext.hadoopConfiguration

  def oct(s: String): Int = Integer.parseInt(s, 8)
  def perm(s: String) = new FsPermission(oct(s).toShort)
  def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  def withTmp[T](body: java.nio.file.Path => T): T = {
    val d = Files.createTempDirectory("graft_localfs")
    try body(d)
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile)
  }

  def rawPair(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val stock = new RawLocalFileSystem
    val graft = new GraftRawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    graft.initialize(URI.create("file:///"), conf)
    (stock, graft)
  }

  test("the session's file: FileSystem and FileContext use the graft classes") {
    val fs = new Path("file:/tmp").getFileSystem(conf)
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRaw
      .isInstanceOf[GraftRawLocalFileSystem])
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs])
  }

  test("mkdirs/create/setPermission give the stock bits; sticky and setgid dirs take the stock path") {
    val (stock, graft) = rawPair()
    withTmp { d =>
      for (m <- Seq("600", "644", "700", "755", "777")) {
        def made(fs: RawLocalFileSystem, tag: String): Seq[Int] = {
          val dir = new Path(d.toUri.toString + s"/${tag}_dir_$m")
          val file = new Path(d.toUri.toString + s"/${tag}_file_$m")
          val bare = new Path(d.toUri.toString + s"/${tag}_bare_$m")
          assert(fs.mkdirs(dir, perm(m)))
          fs.create(file, perm(m), false, 4096, 1.toShort, 1L << 25, null).close()
          Files.createFile(Paths.get(bare.toUri))
          fs.setPermission(bare, perm(m))
          Seq(dir, file, bare).map(p => mode(Paths.get(p.toUri)))
        }
        val want = made(stock, "stock")
        assert(made(graft, "graft") == want, s"mode $m")
        // create/mkdirs apply Hadoop's umask (022), setPermission does not
        val umasked = oct(m) & ~FsPermission.getUMask(conf).toShort
        assert(want == Seq(umasked, umasked, oct(m)), s"mode $m")
      }
      val sticky = d.resolve("sticky")
      Files.createDirectory(sticky)
      graft.setPermission(new Path(sticky.toUri), perm("1777"))
      assert(mode(sticky) == oct("1777")) // java.nio cannot set the sticky bit
      // chmod keeps a directory's setgid bit under a 4-digit mode
      // (FsPermission cannot express setgid, so set it with chmod)
      for ((fs, tag) <- Seq(stock -> "stock", graft -> "graft")) {
        val sg = d.resolve(s"setgid_$tag")
        Files.createDirectory(sg)
        assert(new ProcessBuilder("chmod", "2775", sg.toString).start().waitFor() == 0)
        fs.setPermission(new Path(sg.toUri), perm("755"))
      }
      assert(mode(d.resolve("setgid_stock")) == oct("2755"))
      assert(mode(d.resolve("setgid_graft")) == oct("2755"))
    }
  }

  test("rename does not replace an existing file, as Hive's ProxyLocalFileSystem") {
    withTmp { d =>
      val fs = new Path("file:/").getFileSystem(conf)
      def put(n: String, v: Int): Path = {
        val p = new Path(d.toUri.toString + "/" + n)
        val out = fs.create(p); try out.writeInt(v) finally out.close()
        p
      }
      val (a, b) = (put("a", 1), put("b", 2))
      assert(!fs.rename(a, b))
      val in = fs.open(b)
      try assert(in.readInt() == 2) finally in.close()
      assert(fs.rename(a, new Path(d.toUri.toString + "/c")))
      assert(!fs.exists(a))
    }
  }

  test("parquet written through the session keeps .crc siblings and checksum checks") {
    withTmp { d =>
      val out = d.resolve("t").toString
      spark.range(0, 2000).selectExpr("id", "id * 7 AS v")
        .write.parquet(out)
      val parts = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts.nonEmpty)
      val fileMode = FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)).toShort
      parts.foreach { f =>
        assert(new java.io.File(out, s".${f.getName}.crc").isFile, f.getName)
        assert(mode(f.toPath) == fileMode, f.getName)
      }
      val part = parts.head
      val raf = new java.io.RandomAccessFile(part, "rw")
      try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 0xFF) }
      finally raf.close()
      val fs = new Path(out).getFileSystem(conf)
      intercept[ChecksumException] {
        val in = fs.open(new Path(part.toURI))
        try org.apache.hadoop.io.IOUtils.readFully(in, new Array[Byte](part.length.toInt),
          0, part.length.toInt)
        finally in.close()
      }
    }
  }
}
