package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{ChecksumException, FileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.lake._

/** The local write path: lake writes start no process (Hadoop's
  * `RawLocalFileSystem` forks `chmod` per file and directory without
  * libhadoop), and what they leave on disk — modes, `.crc` sidecars and
  * their verification on read — is what Hadoop's own local FileSystem
  * leaves. */
class LocalWriteSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private def newLake(): Lake =
    new Lake(spark, Files.createTempDirectory("graft_localfs").toString)

  /** JFR `jdk.ProcessStart` events, with stacks, recorded while `body` runs */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_procs", ".jfr")
    try { rec.dump(dump); RecordingFile.readAllEvents(dump).asScala.toSeq }
    finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def crcOf(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

  /** a lake with one data file and one delete file against it */
  private def lakeWithDeletes(): (Lake, Meta.CatalogState, Long) = {
    val lake = newLake()
    lake.createTableAs("main.t", (1 to 50).map(i => (i % 5, i.toLong)).toDF("g", "x"))
    lake.delete("main.t", col("x") <= 10)
    val st = lake.store.state()
    (lake, st, st.tableAt("main", "t", st.currentSnapshotId).get.tableId)
  }

  test("lake DML, MV refresh and maintenance start no process through Hadoop's Shell") {
    // a forking `file:` FileSystem cached before the session conf applied
    // would make every write below fork, whatever the session says
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NoForkLocalFs], s"file: resolves to ${fs.getClass.getName}")

    val lake = newLake()
    val starts = processStarts {
      lake.createTableAs("main.t", (1 to 40).map(i => (i % 4, i.toLong)).toDF("g", "x"))
      lake.createMaterializedView("main.mv", "main.t", Seq("g"), Seq("x"))
      lake.append("main.t", (41 to 60).map(i => (i % 4, i.toLong)).toDF("g", "x"))
      lake.delete("main.t", col("x") <= 5)
      lake.update("main.t", col("x") === 10L, Map("x" -> lit(100L)))
      lake.merge("main.t", Seq((2, 20L), (7, 700L)).toDF("sg", "sx"), col("x") === col("sx"),
        matched = Seq(LakeWrite.MergeMatched(None, Some(Map("x" -> (col("sx") + 1))))),
        notMatched = Seq(LakeWrite.MergeInsert(None, Map("g" -> col("sg"), "x" -> col("sx")))))
      lake.refreshMaterializedView("main.mv")
      lake.maintain()
    }
    val viaShell = starts.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
      .map(_.getString("command"))
    assert(viaShell.size == 0, s"process starts through Hadoop's Shell, e.g. " +
      viaShell.take(3).mkString("; "))
    assert(lake.table("main.t").count() == 56)
  }

  test("written dirs and files keep their modes and .crc sidecars") {
    val (_, st, tid) = lakeWithDeletes()
    val data = st.filesAt(tid, st.currentSnapshotId).map(f => Paths.get(f.path))
    val deletes = st.deleteFilesAt(tid, st.currentSnapshotId)
    val parts = deletes.flatMap(_.parts).map(p => Paths.get(new java.net.URI(p).getPath))
    assert(data.nonEmpty && parts.nonEmpty)
    // promoted data files take their sidecar along out of their write dir;
    // delete files stay where the write put them, sidecar and all
    data.foreach { f =>
      assert(mode(f) == "rw-r--r--", f)
      assert(mode(crcOf(f)) == "rw-r--r--", crcOf(f))
    }
    (data.map(_.getParent) ++ deletes.map(d => Paths.get(d.path))).distinct
      .foreach(d => assert(mode(d) == "rwxr-xr-x", d))
    parts.foreach { f =>
      assert(mode(f) == "rw-r--r--", f)
      assert(mode(crcOf(f)) == "rw-r--r--", crcOf(f))
    }
  }

  test("a flipped byte in a checksummed file fails its read with a checksum error") {
    def flip(f: Path): Unit = {
      val b = Files.readAllBytes(f)
      b(4) = (b(4) ^ 0xff).toByte // first page header, past the magic
      Files.write(f, b)
    }
    def checksumFailure(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ChecksumException])

    // a session parquet write: part files with sidecars
    val dir = Files.createTempDirectory("graft_crc").resolve("out")
    (1 to 100).map(i => (i, s"v$i")).toDF("a", "b").coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    assert(Files.exists(crcOf(part)))
    flip(part)
    val e1 = intercept[Exception](spark.read.parquet(dir.toString).collect())
    assert(checksumFailure(e1), e1)

    // a lake delete file, read when the lake applies it
    val (lake, st, tid) = lakeWithDeletes()
    val del = st.deleteFilesAt(tid, st.currentSnapshotId).flatMap(_.parts)
      .map(p => Paths.get(new java.net.URI(p).getPath))
    del.foreach(flip)
    val e2 = intercept[Exception](lake.table("main.t").collect())
    assert(checksumFailure(e2), e2)

    // a promoted lake data file
    val (lake3, st3, tid3) = lakeWithDeletes()
    st3.filesAt(tid3, st3.currentSnapshotId).foreach(f => flip(Paths.get(f.path)))
    val e3 = intercept[Exception](lake3.table("main.t").collect())
    assert(checksumFailure(e3), e3)
  }

  test("a data file's sidecar lives and dies with it: promotion, cleanup, orphans") {
    val lake = newLake()
    lake.createTable("main.t", Seq((1, 1L)).toDF("g", "x").schema)
    (1 to 3).foreach(i =>
      lake.append("main.t", (1 to 20).map(j => (j % 4, (i * 100 + j).toLong)).toDF("g", "x")))
    // an empty append's zero-row part file is dropped, sidecar too
    lake.append("main.t", Seq.empty[(Int, Long)].toDF("g", "x"))
    lake.mergeAdjacentFiles("main.t") // ends the three appended files
    lake.update("main.t", col("x") === 105L, Map("x" -> lit(-1L)))
    val st = lake.store.state()
    val tid = st.tableAt("main", "t", st.currentSnapshotId).get.tableId
    val dataDir = Paths.get(LakeWrite.tableDir(lake.root, tid), "data")
    // crash residue: a promoted file and its sidecar that no commit names,
    // and a sidecar whose file is gone
    val live = st.filesAt(tid, st.currentSnapshotId).map(f => Paths.get(f.path))
    Files.copy(live.head, dataDir.resolve("gorphan.parquet"))
    Files.copy(crcOf(live.head), crcOf(dataDir.resolve("gorphan.parquet")))
    Files.write(crcOf(dataDir.resolve("ggone.parquet")), Array[Byte](1, 2, 3))

    lake.cleanupOldFiles(Some(0L))
    val reaped = lake.deleteOrphanedFiles(Some(0L))
    assert(reaped.map(p => Paths.get(p).getFileName.toString).sorted ==
      Seq(".ggone.parquet.crc", "gorphan.parquet"), reaped)
    val onDisk = Files.list(dataDir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(onDisk == live.flatMap(f => Seq(f, crcOf(f))).map(_.getFileName.toString).toSet,
      s"on disk: $onDisk, live: $live")
    assert(lake.table("main.t").count() == 60)
  }
}
