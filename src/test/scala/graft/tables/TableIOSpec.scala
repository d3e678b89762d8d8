package graft.tables

import java.nio.file.FileAlreadyExistsException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Contract spec for the deltalike filesystem facade: the NIO and the
  * Hadoop implementations must behave identically for every operation
  * the log/table plumbing uses — run here against the same local
  * directory tree (Hadoop via RawLocalFileSystem), so the non-local
  * path is exercised without needing a cluster.
  */
class TableIOSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tempDirs = new TempDirs

  override def afterAll(): Unit = tempDirs.deleteAll()

  private def impls(tmp: String): Seq[(String, TableIO)] = Seq(
    "nio" -> NioTableIO,
    "hadoop" -> new HadoopTableIO(new HPath(tmp), new Configuration()))

  private def withTmp(f: String => Unit): Unit = {
    f(tempDirs("graft-io-"))
  }

  test("read/write/list/walk/rename/delete contract holds for both impls") {
    withTmp { tmp =>
      impls(tmp).foreach { case (name, io) =>
        val root = s"$tmp/$name"
        io.mkdirs(s"$root/sub/deeper")
        assert(io.isDir(s"$root/sub"), name)
        assert(!io.isDir(s"$root/nope"), name)
        assert(io.listNames(s"$root/nope").isEmpty, name)

        io.writeString(s"$root/sub/a.txt", "line1\nline2\n")
        assert(io.readLines(s"$root/sub/a.txt") === Seq("line1", "line2"), name)
        assert(io.size(s"$root/sub/a.txt") === 12L, name)

        io.writeString(s"$root/sub/deeper/b.txt", "x")
        assert(io.listNames(s"$root/sub").toSet === Set("a.txt", "deeper"), name)
        assert(io.walkFiles(s"$root/sub").toSet ===
          Set("a.txt", "deeper/b.txt"), name)

        io.rename(s"$root/sub/deeper/b.txt", s"$root/sub/c.txt")
        assert(io.readLines(s"$root/sub/c.txt") === Seq("x"), name)

        assert(io.delete(s"$root/sub/c.txt"), name)
        assert(!io.delete(s"$root/sub/c.txt"), name)

        io.deleteRecursively(s"$root/sub")
        assert(!io.isDir(s"$root/sub"), name)
        io.deleteRecursively(s"$root/sub") // idempotent on absent dirs
      }
    }
  }

  test("writeExclusive publishes once and loses races with nio semantics") {
    withTmp { tmp =>
      impls(tmp).foreach { case (name, io) =>
        val dir = s"$tmp/excl-$name"
        io.mkdirs(dir)
        io.writeExclusive(s"$dir/00000000.json", "v0\n")
        assert(io.readLines(s"$dir/00000000.json") === Seq("v0"), name)
        intercept[FileAlreadyExistsException] {
          io.writeExclusive(s"$dir/00000000.json", "imposter\n")
        }
        // loser must not clobber the winner, and must leave no temp junk
        assert(io.readLines(s"$dir/00000000.json") === Seq("v0"), name)
        assert(io.listNames(dir) === Seq("00000000.json"), name)
      }
    }
  }

  test("e2e: write → merge → time travel runs entirely through HadoopTableIO") {
    // -Dgraft.io.forceHadoop routes local paths through the Hadoop
    // branch, so the full table lifecycle (stage, footer stats, rename,
    // exclusive log commit via FileContext rename-no-overwrite) runs the
    // code a cluster deployment would, without needing one
    System.setProperty("graft.io.forceHadoop", "true")
    try {
      val spark = graft.core.GraftSession.local("tableio-e2e", cores = 4)
      try {
        import spark.implicits._
        val path = tempDirs("graft-io-e2e")
        DeltaLikeTable.write(
          (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path)
        val t = DeltaLikeTable.forPath(spark, path)
        assert(t.log.io.isInstanceOf[HadoopTableIO], "NIO branch was used")
        t.as("t").merge(
            Seq((1L, "UPD"), (11L, "NEW")).toDF("id", "v").as("s"), "t.id = s.id")
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        assert(t.version === 1)
        assert(t.toDF.count() === 11)
        assert(t.toDF.where("v = 'UPD'").select("id").head().getLong(0) === 1L)
        assert(t.toDF(0).count() === 10) // time travel to pre-merge
        // the exclusive-commit contract holds through this branch too
        intercept[FileAlreadyExistsException] {
          t.log.commit(1, Seq(CommitInfo("DUP", 0L)))
        }
      } finally spark.stop()
    } finally System.clearProperty("graft.io.forceHadoop")
  }

  test("a deltalike table round-trips through the Hadoop IO path") {
    withTmp { tmp =>
      // force the Hadoop implementation for the whole table lifecycle by
      // driving the log directly (forPath would route file:// to NIO)
      val io = new HadoopTableIO(new HPath(tmp), new Configuration())
      val logDir = s"$tmp/t/${DeltaLog.LogDirName}"
      io.mkdirs(logDir)
      val acts = Seq(
        MetaData("id BIGINT", Seq.empty),
        AddFile("part-0.parquet", 10L, 1L),
        CommitInfo("WRITE", 1L))
      io.writeExclusive(s"$logDir/00000000.json",
        acts.map(DeltaLog.renderAction).mkString("", "\n", "\n"))
      val log = DeltaLog.forPath(s"$tmp/t")
      assert(log.exists)
      assert(log.latestVersion === 0L)
      val snap = log.snapshot()
      assert(snap.files.map(_.path) === Seq("part-0.parquet"))
      assert(snap.schema.fieldNames.toSeq === Seq("id"))
    }
  }
}
