package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe promote behind every staged write: Sinks' merges
  * and compactions, the inverted-index ingest, the component-state
  * merge, and batch-part compactions and merges (SURVEY §2.8: the
  * reference's upsert became "stage the new files, then promote
  * them"). A writer
  * stages its new files aside, then [[commit]]s a list of steps:
  *
  *  - a marker listing every step is written ([[writeAtomic]]) only
  *    after all staging is on disk. Before it exists the live tree is
  *    untouched, and staging is inert debris that the next write's
  *    overwrite replaces;
  *  - the steps are applied in order. A dir a step retires (the
  *    live side of a replace, a dropped dir) is renamed into the
  *    marker's trash (`<marker>.trash/<step>`), an O(1) swap, and the
  *    trash is deleted only after every step has applied; then the
  *    marker is deleted.
  *
  * A crash after the marker rolls FORWARD: the writer's next
  * single-writer entry calls [[recover]], which re-applies every step
  * (each is idempotent) and retires the marker. Readers never mutate;
  * they check [[pending]] and fail loudly while a commit is in flight.
  * One marker can span several tables, which is what lets a
  * multi-table write (postings + dfreq + stats, a state and its doc
  * projection) commit atomically. Step paths are relative to the
  * marker's directory. Single writer, like every persisted artifact
  * in the engine.
  */
object StagedCommit {

  sealed trait Step

  /** Swap `live` (present or not) for its complete staged twin. */
  final case class Replace(staged: String, live: String) extends Step

  /** Delete `live`: a bucket replaced by nothing, or a staging root. */
  final case class Drop(live: String) extends Step

  /** Move the staged dir's data files into `live`, skipping any name
    * already moved: the append-shaped promote. */
  final case class MoveIn(staged: String, live: String) extends Step

  /** Publish the marker for `steps`, then apply them. */
  def commit(fs: FileSystem, marker: Path, steps: Seq[Step]): Unit = {
    plan(fs, marker, steps)
    recover(fs, marker)
  }

  /** The commit point alone: write the marker, apply nothing. Specs
    * use it to build the state a crash right after it leaves. */
  private[graft] def plan(fs: FileSystem, marker: Path, steps: Seq[Step]): Unit = {
    require(!fs.exists(marker), s"a commit is already pending at $marker — recover it first")
    val lines = steps.map {
      case Replace(s, l) => Seq("replace", s, l)
      case Drop(l) => Seq("drop", l)
      case MoveIn(s, l) => Seq("movein", s, l)
    }
    require(lines.flatten.forall(p => !p.contains('\t') && !p.contains('\n')),
      s"commit steps at $marker must not contain tabs or newlines")
    writeAtomic(fs, marker, lines.map(_.mkString("\t") + "\n").mkString.getBytes("UTF-8"))
  }

  /** Is a commit in flight (or crashed) at `marker`? */
  def pending(fs: FileSystem, marker: Path): Boolean = fs.exists(marker)

  /** Roll a marked commit forward from any crash point; a no-op when
    * no marker exists. A step whose staged and live sides are both
    * missing cannot come from a crash and fails loudly. */
  def recover(fs: FileSystem, marker: Path): Unit = {
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val trash = marker.suffix(".trash")
    def at(rel: String) = new Path(marker.getParent, rel)
    def fail(what: String) = throw new java.io.IOException(s"commit $marker: $what")
    def requireLive(live: Path): Unit = require(fs.exists(live),
      s"corrupt commit at $marker: $live has neither a staged nor a live copy")
    def aside(live: Path, step: Int): Unit = {
      fs.mkdirs(trash)
      if (!fs.rename(live, new Path(trash, step.toString))) fail(s"could not retire $live")
    }
    lines.filter(_.nonEmpty).map(_.split("\t", -1).toSeq).zipWithIndex.foreach {
      case (Seq("replace", s, l), i) =>
        val (staged, live) = (at(s), at(l))
        if (fs.exists(staged)) {
          if (fs.exists(live)) aside(live, i)
          if (!fs.rename(staged, live)) fail(s"could not promote $staged")
        } else requireLive(live)
      case (Seq("drop", l), i) => if (fs.exists(at(l))) aside(at(l), i)
      case (Seq("movein", s, l), _) =>
        val (staged, live) = (at(s), at(l))
        if (fs.exists(staged)) {
          fs.mkdirs(live)
          fs.listStatus(staged).filter(_.isFile).map(_.getPath)
            .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
            .foreach { f =>
              val tgt = new Path(live, f.getName)
              if (!fs.exists(tgt) && !fs.rename(f, tgt)) fail(s"could not move $f")
            }
        } else requireLive(live)
      case (other, _) => sys.error(s"corrupt commit marker $marker: line '${other.mkString("\t")}'")
    }
    fs.delete(trash, true)
    if (!fs.delete(marker, false)) fail("could not retire the marker")
  }

  /** Replace the small file `path` with `bytes` through `<path>.tmp`
    * and a rename. A reader sees the old content, the new content or,
    * inside the delete→rename window, no file, never a torn one. */
  def writeAtomic(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.delete(path, false)
    if (!fs.rename(tmp, path)) throw new java.io.IOException(s"could not swap $path")
  }
}
