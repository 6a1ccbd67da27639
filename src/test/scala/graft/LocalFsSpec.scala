package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ops.NioLocalFileSystem

/** The `file:` FileSystem the engine's sessions register: it must be
  * the one Spark's reads and writes resolve, leave the same POSIX modes
  * as Hadoop's stock local filesystem, and refuse a rename onto an
  * existing file as the registry expects. That it starts no process is
  * ImporterSpec's process budget.
  */
class LocalFsSpec extends SparkSpec {

  test("the session's file: filesystem is the fork-free one") {
    val conf = spark.sparkContext.hadoopConfiguration
    for (fs <- Seq(FileSystem.get(URI.create("file:///"), conf), FileSystem.getLocal(conf),
                   new Path(Files.createTempDirectory("graft-fs").toUri).getFileSystem(spark.sessionState.newHadoopConf())))
      assert(fs.getClass == classOf[NioLocalFileSystem], s"file: resolves to ${fs.getClass}")
  }

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Creates files and directories through `fs` under `root`, then
    * reads back every entry's mode, sticky bit included.
    */
  private def modesAfterWrites(fs: LocalFileSystem, root: JPath): Map[String, Int] = {
    def p(rel: String) = new Path(root.resolve(rel).toUri)
    val out = fs.create(p("a/b/f.txt"))
    out.write(1)
    out.close()
    fs.mkdirs(p("m/n/o"))
    fs.mkdirs(p("d750"), octal("750"))
    fs.create(p("g.bin"), octal("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.setPermission(p("a/b/f.txt"), octal("604"))
    fs.mkdirs(p("t"))
    fs.setPermission(p("t"), octal("1777"))
    Files.walk(root).iterator.asScala.filter(_ != root).map { e =>
      root.relativize(e).toString -> (Files.getAttribute(e, "unix:mode").asInstanceOf[Int] & 4095)
    }.toMap
  }

  test("permissions match the stock local filesystem, under the default umask and under 077") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      def modes(fs: LocalFileSystem) = {
        fs.initialize(URI.create("file:///"), conf)
        try modesAfterWrites(fs, Files.createTempDirectory("graft-perm")) finally fs.close()
      }
      val stock = modes(new LocalFileSystem())
      val nio = modes(new NioLocalFileSystem())
      assert(stock.keySet == Set("a", "a/b", "a/b/f.txt", "a/b/.f.txt.crc", "m", "m/n", "m/n/o",
        "d750", "g.bin", ".g.bin.crc", "t"), s"entries ${stock.keys}")
      assert(nio == stock, s"umask ${umask.getOrElse("default")}: NIO $nio, stock $stock")
      assert(stock("t") == Integer.parseInt("1777", 8))
    }
  }

  test("rename refuses an existing file destination and otherwise renames as Hadoop's does") {
    // the registry's tombstoned slot is an empty file at the data path
    def outcomes(fs: LocalFileSystem): (Map[String, String], Set[String]) = {
      fs.initialize(URI.create("file:///"), new Configuration())
      val root = Files.createTempDirectory("graft-rename")
      def p(rel: String) = new Path(root.resolve(rel).toUri)
      Files.createDirectories(root.resolve("d1"))
      Files.write(root.resolve("d1/x"), Array[Byte](1))
      Files.createFile(root.resolve("tomb"))
      Seq("f1", "f2", "f3").foreach(f => Files.write(root.resolve(f), f.getBytes))
      Files.createDirectories(root.resolve("d2"))
      Files.createDirectories(root.resolve("into"))
      val renames = Seq(
        "dir onto file" -> ("d1", "tomb"), "file onto file" -> ("f1", "f2"),
        "dir onto nothing" -> ("d2", "moved"), "file into dir" -> ("f3", "into"))
      val results = renames.map { case (k, (from, to)) =>
        k -> scala.util.Try(fs.rename(p(from), p(to))).fold(_.getClass.getSimpleName, _.toString)
      }.toMap
      val tree = Files.walk(root).iterator.asScala.filter(_ != root).map(root.relativize(_).toString).toSet
      fs.close()
      (results, tree)
    }
    val (stock, _) = outcomes(new LocalFileSystem())
    val (nio, tree) = outcomes(new NioLocalFileSystem())
    assert(nio("dir onto file") == "false" && nio("file onto file") == "false", s"NIO $nio, stock $stock")
    assert(Set("d1/x", "tomb", "f1", "f2", "moved", "into/f3").subsetOf(tree), s"after the renames: $tree")
    val fileDst = Set("dir onto file", "file onto file")
    assert(nio.removedAll(fileDst) == stock.removedAll(fileDst), s"NIO $nio, stock $stock")
  }
}
