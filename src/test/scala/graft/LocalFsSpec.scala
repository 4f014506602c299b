package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, FileUtil,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.util.SerializableConfiguration

/** `file:` is [[LocalFs]] in every session, for `FileSystem` and
  * `FileContext` alike, and it answers permission writes and reads
  * exactly as the stock `LocalFileSystem` does, but without forking
  * `chmod` / `ls`.
  */
class LocalFsSpec extends SparkSpec {

  private def fs(stock: Boolean): FileSystem = {
    val f = if (stock) new LocalFileSystem() else new LocalFs()
    f.initialize(URI.create("file:///"), new Configuration())
    f
  }

  private def hp(p: JPath): Path = new Path(p.toUri)

  private def withDir[A](body: JPath => A): A = {
    val dir = TempDirs.dir("graft-localfs")
    try body(dir) finally FileUtil.fullyDelete(dir.toFile)
  }

  /** st_mode's permission and sticky bits, as `ls -ld` shows them. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0x3ff

  /** Waited-for children's user + system ticks (/proc/self/stat 16, 17). */
  private def childTicks(): Long = {
    val stat = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    f(13).toLong + f(14).toLong
  }

  private def write(f: FileSystem, p: Path): Unit = {
    val out = f.create(p, true)
    try out.write(Array.fill[Byte](1024)(7)) finally out.close()
  }

  test("file: resolves to LocalFs on the driver and inside a task") {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    assert(new Path("file:///").getFileSystem(conf.value).getClass === classOf[LocalFs])
    assert(new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf())
      .getClass === classOf[LocalFs])
    val inTask = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => new Path("file:///").getFileSystem(conf.value).getClass.getName)
      .collect()
    assert(inTask.toSeq === Seq(classOf[LocalFs].getName))
  }

  test("FileContext on file: resolves to LocalFs.Context in the session") {
    val fc = FileContext.getFileContext(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.getClass === classOf[LocalFs.Context])
  }

  test("100 FileContext create-and-rename commits fork no child process, stock layout") {
    // a streaming checkpoint's commit: create a temp file, rename it over
    def run(impl: Class[_]): (Long, Seq[(String, Int)]) = withDir { dir =>
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val before = childTicks()
      (1 to 100).foreach { i =>
        val tmp = hp(dir.resolve(s"d/.$i.tmp"))
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(Array.fill[Byte](1024)(7)) finally out.close()
        fc.rename(tmp, hp(dir.resolve(s"d/$i.bin")), Options.Rename.OVERWRITE)
      }
      val ticks = childTicks() - before
      val s = Files.walk(dir)
      try (ticks, s.iterator().asScala.filter(_ != dir)
        .map(p => dir.relativize(p).toString -> mode(p)).toSeq.sorted)
      finally s.close()
    }
    val (ours, layout) = run(classOf[LocalFs.Context])
    // control: Hadoop's own class forks chmod per create and readlink per rename
    val (stock, stockLayout) = run(classOf[org.apache.hadoop.fs.local.LocalFs])
    assert(ours === 0L)
    assert(stock > 0L)
    assert(layout === stockLayout)
    assert(layout.map(_._1).contains("d/.7.bin.crc"))
  }

  test("create, mkdirs and setPermission leave the stock mode bits and .crc files") {
    withDir { dir =>
      def layout(stock: Boolean): Seq[(String, Int)] = {
        val root = dir.resolve(if (stock) "stock" else "graft")
        val f = fs(stock)
        write(f, hp(root.resolve("a/b/c.bin")))
        f.mkdirs(hp(root.resolve("d")))
        f.mkdirs(hp(root.resolve("e")), new FsPermission("750"))
        write(f, hp(root.resolve("f.bin")))
        f.setPermission(hp(root.resolve("f.bin")), new FsPermission("600"))
        val s = Files.walk(root)
        try s.iterator().asScala.filter(_ != root)
          .map(p => root.relativize(p).toString -> mode(p)).toSeq.sorted
        finally s.close()
      }
      val ours = layout(stock = false)
      assert(ours === layout(stock = true))
      assert(ours.map(_._1).contains("a/b/.c.bin.crc"))
      assert(ours.toMap.apply("f.bin") === Integer.parseInt("600", 8))
    }
  }

  test("a sticky-bit permission falls back to the stock chmod") {
    withDir { dir =>
      val d = hp(dir.resolve("shared"))
      val f = fs(stock = false)
      f.mkdirs(d)
      f.setPermission(d, new FsPermission("1777"))
      assert(mode(dir.resolve("shared")) === Integer.parseInt("1777", 8))
      // the read side keeps the sticky bit `ls -ld` reports
      assert(f.getFileStatus(d).getPermission === fs(stock = true).getFileStatus(d).getPermission)
      assert(f.getFileStatus(d).getPermission.getStickyBit)
    }
  }

  test("listFiles and getFileStatus report what the filesystem holds") {
    withDir { dir =>
      val f = fs(stock = false)
      val stock = fs(stock = true)
      Seq("a.bin", "sub/b.bin", "sub/c.bin").foreach { n =>
        write(f, hp(dir.resolve(n)))
      }
      f.setPermission(hp(dir.resolve("sub/c.bin")), new FsPermission("640"))
      def expect(s: FileStatus): Unit = {
        val a = Files.readAttributes(java.nio.file.Paths.get(s.getPath.toUri),
          classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
        val bits = a.permissions().asScala.map(p => 1 << (8 - p.ordinal)).sum
        assert(s.getPermission.toShort.toInt === bits, s.getPath)
        assert(s.getOwner === a.owner().getName)
        assert(s.getGroup === a.group().getName)
        val st = stock.getFileStatus(s.getPath)
        assert((s.getPermission, s.getOwner, s.getGroup, s.getLen, s.getModificationTime) ===
          ((st.getPermission, st.getOwner, st.getGroup, st.getLen, st.getModificationTime)))
      }
      val listed = f.listFiles(hp(dir), true)
      var n = 0
      while (listed.hasNext) { expect(listed.next()); n += 1 }
      assert(n === 3)
      expect(f.getFileStatus(hp(dir.resolve("sub"))))
      f.listStatus(hp(dir.resolve("sub/b.bin"))).foreach(expect)
    }
  }

  test("100 creates and a 100-file listFiles fork no child process") {
    def childCost(stock: Boolean): Long = withDir { dir =>
      val f = fs(stock)
      val before = childTicks()
      (1 to 100).foreach(i => write(f, hp(dir.resolve(s"d/$i.bin"))))
      val it = f.listFiles(hp(dir), true)
      while (it.hasNext) it.next()
      childTicks() - before
    }
    assert(childCost(stock = false) === 0L)
    // control: the stock class forks chmod per create and ls per listed file
    assert(childCost(stock = true) > 0L)
  }
}
