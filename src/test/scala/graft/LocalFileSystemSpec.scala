package graft

import java.nio.file.{Files, Paths}

import graft.sources.{GraftLocalFileSystem, GraftRawLocalFileSystem}
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file://` filesystem sets permissions in-process and
  * gives every file and directory the bits Hadoop's own
  * `RawLocalFileSystem` (which forks `chmod`) gives them. */
class LocalFileSystemSpec extends AnyFunSuite {
  import TestSpark.spark

  private def conf = spark.sparkContext.hadoopConfiguration
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session's file:// filesystem is the graft class") {
    // Hadoop caches one FileSystem per scheme: one opened before the
    // session was built would silently keep the forking class
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[GraftLocalFileSystem].getRawFileSystem
      .isInstanceOf[GraftRawLocalFileSystem])
  }

  test("created files and dirs carry RawLocalFileSystem's permission bits") {
    val base = Files.createTempDirectory("graft_lfs").toString
    val graft = FileSystem.get(new java.net.URI("file:///"), conf)
    val hadoop = new RawLocalFileSystem
    hadoop.initialize(new java.net.URI("file:///"), conf)
    def made(fs: FileSystem, side: String): (Int, Int, Int) = {
      val dir = new Path(s"file://$base/$side/d")
      val file = new Path(s"file://$base/$side/f.bin")
      assert(fs.mkdirs(dir))
      val out = fs.create(file); out.write(1); out.close()
      val explicit = new Path(s"file://$base/$side/e")
      assert(fs.mkdirs(explicit, new FsPermission("750")))
      (mode(dir), mode(file), mode(explicit))
    }
    assert(made(graft, "graft") == made(hadoop, "hadoop"))
    // setPermission on its own, over the 9 bits
    Seq("644", "600", "755", "700", "777", "000", "421").foreach { m =>
      val (g, h) = (new Path(s"file://$base/graft/f.bin"),
        new Path(s"file://$base/hadoop/f.bin"))
      graft.setPermission(g, new FsPermission(m))
      hadoop.setPermission(h, new FsPermission(m))
      assert(mode(g) == mode(h) && mode(g) == Integer.parseInt(m, 8), m)
    }
  }

  test("a permission beyond 0777 goes through the parent method") {
    val dir = new Path(s"file://${Files.createTempDirectory("graft_lfs_t")}/d")
    val graft = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(graft.mkdirs(dir))
    // java.nio cannot set the sticky bit; chmod (the parent's route) can
    graft.setPermission(dir, new FsPermission("1777"))
    assert(mode(dir) == Integer.parseInt("1777", 8),
      f"sticky dir mode ${mode(dir)}%o")
  }
}
