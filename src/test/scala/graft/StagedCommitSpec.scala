package graft

import graft.sources.StagedCommit
import graft.sources.StagedCommit.{Drop, MoveIn, Replace}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** Systematic crash injection for the one commit protocol every
  * staged write promotes through ([[StagedCommit]]): one commit that
  * mixes every step kind is crashed at each of its file-system writes
  * in turn. Trees are built with java.nio; no Spark job runs. */
class StagedCommitSpec extends AnyFunSuite {

  private val raw: FileSystem = FileSystem.getLocal(new Configuration()).getRaw

  /** Throws before the `failAt`-th create, rename, mkdirs or delete —
    * a crash at that write. Handed straight to [[StagedCommit]]. */
  private class FaultyFs(failAt: Int) extends FilterFileSystem(raw) {
    private var writes = 0
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Path]
    private def tick(op: String, p: Path): Unit = {
      writes += 1
      if (writes == failAt) throw new java.io.IOException(s"injected crash at $op #$writes of $p")
    }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                        replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      tick("create", f)
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = { tick("rename", src); super.rename(src, dst) }
    override def delete(f: Path, recursive: Boolean): Boolean = {
      tick("delete", f); deleted += f; super.delete(f, recursive)
    }
    override def mkdirs(f: Path, permission: FsPermission): Boolean = {
      tick("mkdirs", f); super.mkdirs(f, permission)
    }
    override def mkdirs(f: Path): Boolean = { tick("mkdirs", f); super.mkdirs(f) }
  }

  private def injected(e: Throwable): Boolean =
    Option(e.getMessage).exists(_.startsWith("injected crash"))

  /** A live tree plus its complete staging, as a writer leaves it the
    * instant before it commits. */
  private def build(): JPath = {
    val root = Files.createTempDirectory("graft-commit")
    def put(rel: String, body: String): Unit = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, body.getBytes("UTF-8"))
    }
    put("t/a.parquet", "a0"); put("t/sub/x", "x0")                 // replaced whole
    put("t__staged/a.parquet", "a1"); put("t__staged/b.parquet", "b1")
    put("gone/g", "g0")                                             // dropped
    put("app/p1", "p1")                                             // moved into
    put("app__staged/p2", "p2"); put("app__staged/p3", "p3"); put("app__staged/_SUCCESS", "")
    put("new__staged/n", "n1")                                      // replaces a missing dir
    root
  }

  private val steps = Seq(
    Replace("t__staged", "t"), Drop("gone"), MoveIn("app__staged", "app"),
    Replace("new__staged", "fresh"), Drop("app__staged"))

  private def markerIn(root: JPath) = new Path(root.resolve("commit.plan").toString)

  /** Every path under `root` with its bytes (None for a dir), minus the
    * marker's temp file, which is inert without a marker. */
  private def snapshot(root: JPath): Map[String, Option[Seq[Byte]]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (if (Files.isDirectory(p)) None else Some(Files.readAllBytes(p).toSeq))
    }.toMap - "commit.plan.tmp"
    finally s.close()
  }

  private def rm(root: JPath): Unit = { raw.delete(new Path(root.toString), true); () }

  test("a crash at any write of a mixed commit leaves it pending or the old or new tree, and recovery converges") {
    val old = { val r = build(); try snapshot(r) finally rm(r) }
    val clean = {
      val r = build()
      try { StagedCommit.commit(raw, markerIn(r), steps); snapshot(r) } finally rm(r)
    }
    assert(clean.keySet === Set("t", "t/a.parquet", "t/b.parquet", "app", "app/p1", "app/p2",
      "app/p3", "fresh", "fresh/n"))
    var n = 1
    var completed = false
    while (!completed) {
      val root = build()
      val marker = markerIn(root)
      try {
        try {
          StagedCommit.commit(new FaultyFs(n), marker, steps)
          completed = true
        } catch {
          case e: java.io.IOException if injected(e) =>
            val now = snapshot(root)
            val pending = StagedCommit.pending(raw, marker)
            assert(pending || now == old || now == clean,
              s"crash at write $n: not pending, and the tree is neither old nor new: ${now.keySet}")
            if (pending) {
              // recovery itself crashes at each of its writes in turn;
              // the commit stays pending until it completes
              var m = 1
              var healed = false
              while (!healed) {
                try { StagedCommit.recover(new FaultyFs(m), marker); healed = true }
                catch {
                  case e2: java.io.IOException if injected(e2) =>
                    assert(StagedCommit.pending(raw, marker), s"crash at write $n then $m retired the marker")
                }
                m += 1
              }
            } else StagedCommit.commit(raw, marker, steps) // the writer's retry
        }
        assert(!StagedCommit.pending(raw, marker))
        assert(snapshot(root) === clean, s"crash at write $n did not converge to the clean commit")
      } finally rm(root)
      n += 1
    }
    assert(n > 10, s"the sweep covered only ${n - 1} writes")
  }

  test("a commit deletes only its marker and its trash: every retired dir leaves by one rename") {
    val root = build()
    try {
      val fs = new FaultyFs(Int.MaxValue)
      StagedCommit.commit(fs, markerIn(root), steps)
      val own = Set("commit.plan", "commit.plan.tmp", "commit.plan.trash")
      val strays = fs.deleted
        .map(p => root.relativize(java.nio.file.Paths.get(p.toUri.getPath)).toString).filterNot(own)
      assert(strays.isEmpty, s"the commit deleted live or staged paths in place: $strays")
      assert(fs.deleted.nonEmpty && !Files.exists(root.resolve("commit.plan.trash")))
    } finally rm(root)
  }

  test("recovery refuses a step whose staged and live sides are both missing") {
    Seq(Replace("lost__staged", "lost"), MoveIn("lost__staged", "lost")).foreach { step =>
      val root = build()
      try {
        StagedCommit.plan(raw, markerIn(root), Seq(step))
        val e = intercept[IllegalArgumentException](StagedCommit.recover(raw, markerIn(root)))
        assert(e.getMessage.contains("neither a staged nor a live copy"), e.getMessage)
        assert(StagedCommit.pending(raw, markerIn(root)), "a refused commit must stay pending")
      } finally rm(root)
    }
  }

  test("a pending commit blocks a new one, and recovery without a marker is a no-op") {
    val root = build()
    try {
      val before = snapshot(root)
      StagedCommit.recover(raw, markerIn(root))
      assert(snapshot(root) === before)
      StagedCommit.plan(raw, markerIn(root), steps)
      val e = intercept[IllegalArgumentException](StagedCommit.commit(raw, markerIn(root), steps))
      assert(e.getMessage.contains("already pending"), e.getMessage)
    } finally rm(root)
  }

  test("writeAtomic: a crash at any write leaves the old content, or a complete tmp beside no file") {
    var n = 1
    var completed = false
    while (!completed) {
      val root = Files.createTempDirectory("graft-atomic")
      val f = root.resolve("CURRENT")
      Files.write(f, "v_1\n".getBytes("UTF-8"))
      try {
        try {
          StagedCommit.writeAtomic(new FaultyFs(n), new Path(f.toString), "v_2\n".getBytes("UTF-8"))
          completed = true
        } catch {
          case e: java.io.IOException if injected(e) =>
            val tmp = root.resolve("CURRENT.tmp")
            if (Files.exists(f)) assert(new String(Files.readAllBytes(f), "UTF-8") === "v_1\n")
            else assert(new String(Files.readAllBytes(tmp), "UTF-8") === "v_2\n",
              s"crash at write $n left neither the old file nor a complete tmp")
        }
        if (completed) {
          assert(new String(Files.readAllBytes(f), "UTF-8") === "v_2\n")
          assert(!Files.exists(root.resolve("CURRENT.tmp")))
        }
      } finally rm(root)
      n += 1
    }
  }
}
