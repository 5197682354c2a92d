package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** Incremental connected-component state: merging batches of near-dup
  * pairs into the persisted (doc_id, group_id) table must equal a full
  * [[Dedup.connectedComponents]] recompute over the union of every
  * batch — the same incremental ≡ rebuild contract the persisted
  * inverted index carries (KeywordSearchSpec).
  */
class IncrementalCcSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDf(ps: (Long, Long)*): DataFrame = ps.toDF("doc_a", "doc_b")

  private def stateDir() =
    java.nio.file.Files.createTempDirectory("graft-ccstate").toString + "/cc"

  private def readSorted(dir: String): Seq[(Long, Long)] = {
    val state = Dedup.readComponentState(spark, dir).as[(Long, Long)].collect().toSeq.sorted
    // standing invariant: the doc-keyed projection is row-identical to
    // the group-bucketed source of truth after every committed merge
    val byDoc = Dedup.readComponentStateByDoc(spark, dir).as[(Long, Long)].collect().toSeq.sorted
    assert(byDoc === state, "doc-keyed projection diverged from the component state")
    state
  }

  private def fullCc(ps: (Long, Long)*): Seq[(Long, Long)] =
    Dedup.connectedComponents(pairsDf(ps: _*)).as[(Long, Long)].collect().toSeq.sorted

  test("merge across appends ≡ full recompute (bridge, re-root, chain growth)") {
    val dir = stateDir()
    // batch 1: two separate groups {5,6} and {9,10}
    val b1 = Seq((5L, 6L), (9L, 10L))
    // batch 2: bridge them via a corpus-corpus edge, plus a fresh pair
    val b2 = Seq((6L, 9L), (20L, 21L))
    // batch 3: a NEW doc with a SMALLER id joins the merged group —
    // every old member must relabel to 1 — and the chain grows
    val b3 = Seq((1L, 10L), (21L, 22L), (22L, 23L))
    Dedup.buildComponentState(pairsDf(b1: _*), dir, stateBuckets = 8)
    assert(readSorted(dir) === fullCc(b1: _*))
    Dedup.mergeComponentState(pairsDf(b2: _*), dir)
    assert(readSorted(dir) === fullCc(b1 ++ b2: _*))
    Dedup.mergeComponentState(pairsDf(b3: _*), dir)
    assert(readSorted(dir) === fullCc(b1 ++ b2 ++ b3: _*))
    // group ids keep the min-doc-id convention after every merge
    val byGroup = readSorted(dir).groupBy(_._2)
    byGroup.foreach { case (g, members) =>
      assert(g === members.map(_._1).min, s"group $g is not its members' min id")
    }
  }

  test("replayed merge is a no-op; merge of already-connected edges changes nothing") {
    val dir = stateDir()
    Dedup.buildComponentState(pairsDf((2L, 3L), (7L, 8L)), dir, stateBuckets = 8)
    Dedup.mergeComponentState(pairsDf((3L, 7L)), dir)
    val after = readSorted(dir)
    Dedup.mergeComponentState(pairsDf((3L, 7L)), dir) // exact replay
    assert(readSorted(dir) === after, "replayed merge must be a no-op")
    Dedup.mergeComponentState(pairsDf((2L, 8L)), dir) // already same group
    assert(readSorted(dir) === after, "intra-group edge must change nothing")
  }

  test("state is gb=bucket partitioned; a merge rewrites only affected buckets") {
    val dir = stateDir()
    // many small independent groups spread across buckets
    val b1 = (0L until 40L by 2L).map(i => (i, i + 1L))
    Dedup.buildComponentState(pairsDf(b1: _*), dir, stateBuckets = 16)
    val root = new java.io.File(s"$dir/components")
    val bucketDirs = root.listFiles().filter(_.getName.startsWith("gb=")).map(_.getName)
    assert(bucketDirs.length > 1, "fixture must span several buckets")
    def mtimes: Map[String, Long] = root.listFiles()
      .filter(_.getName.startsWith("gb="))
      .map(d => d.getName -> d.listFiles().map(_.lastModified).max).toMap
    val before = mtimes
    Thread.sleep(1100) // FS mtime granularity
    Dedup.mergeComponentState(pairsDf((0L, 2L)), dir) // touches groups 0 and 2 only
    val after = mtimes
    val changed = after.filter { case (k, v) => before.get(k).forall(_ != v) }.keySet ++
      (after.keySet -- before.keySet) ++ (before.keySet -- after.keySet)
    // groups 0 and 2 live in at most 2 buckets pre-merge and 1 after;
    // every other bucket's files must be untouched
    assert(changed.size <= 3, s"merge rewrote unaffected buckets: $changed")
    assert(readSorted(dir) === fullCc(b1 :+ (0L, 2L): _*))
  }

  test("a bucket fully emptied by its groups relabeling away holds no stale rows") {
    val dir = stateDir()
    // one group only: whichever bucket holds it must be REPLACED (not
    // dynamically skipped) when the group re-roots into another bucket
    Dedup.buildComponentState(pairsDf((50L, 51L)), dir, stateBuckets = 64)
    // re-root: a new smaller id relabels {50,51} → group 1, which with
    // 64 buckets lands in a different gb partition than group 50
    Dedup.mergeComponentState(pairsDf((1L, 50L)), dir)
    val rows = readSorted(dir)
    assert(rows === Seq((1L, 1L), (50L, 1L), (51L, 1L)),
      s"stale pre-relabel rows survived: $rows")
  }

  test("state compaction: files collapse, rows identical, merges still correct after") {
    val dir = stateDir()
    val b1 = (0L until 24L by 2L).map(i => (i, i + 1L))
    Dedup.buildComponentState(pairsDf(b1: _*), dir, stateBuckets = 4)
    Dedup.mergeComponentState(pairsDf((0L, 2L)), dir)
    Dedup.mergeComponentState(pairsDf((4L, 6L)), dir)
    Dedup.mergeComponentState(pairsDf((8L, 10L)), dir)
    // at scale a big rewrite writes one file per (task × bucket); the
    // tiny fixture coalesces to one file per bucket, so fabricate the
    // multi-file shape by splitting one bucket of each projection
    Seq("components", "components_by_doc").foreach { table =>
      val b = new java.io.File(s"$dir/$table").listFiles()
        .filter(_.getName.contains("=")).maxBy(_.getName)
      val rows = spark.read.parquet(b.toString).repartition(2).localCheckpoint(true)
      val tmp = new java.io.File(b.getParentFile, b.getName + "__tmp")
      rows.write.parquet(tmp.toString)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(b)
      assert(tmp.renameTo(b), "fixture bucket split failed")
    }
    val before = readSorted(dir)
    def files: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/components"))
    }
    val nBefore = files
    Dedup.compactComponentState(spark, dir)
    assert(files < nBefore, s"compaction did not reduce files ($nBefore)")
    assert(readSorted(dir) === before, "compaction changed state rows")
    // layout preserved and merges keep working on the compacted state
    assert(new java.io.File(s"$dir/components").listFiles()
      .exists(_.getName.startsWith("gb=")), "compaction must keep the gb= layout")
    Dedup.mergeComponentState(pairsDf((12L, 14L)), dir)
    assert(readSorted(dir) ===
      fullCc(b1 ++ Seq((0L, 2L), (4L, 6L), (8L, 10L), (12L, 14L)): _*))
    intercept[IllegalArgumentException] {
      Dedup.compactComponentState(spark,
        java.nio.file.Files.createTempDirectory("graft-notcc").toString)
    }
  }

  test("unbuilt state fails loudly; meta pins the bucket count") {
    val dir = stateDir()
    intercept[IllegalArgumentException] { Dedup.readComponentState(spark, dir) }
    intercept[IllegalArgumentException] {
      Dedup.mergeComponentState(pairsDf((1L, 2L)), dir)
    }
    Dedup.buildComponentState(pairsDf((1L, 2L)), dir, stateBuckets = 8)
    val meta = graft.sources.IndexMeta.read(spark, s"$dir/meta.json", "component state")
    assert(meta("stateBuckets") === 8L)
  }

  test("mid-commit crash: read fails loudly, the next merge rolls the commit forward") {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val dir = stateDir()
    // one group {50,51}; the interrupted merge is edge (1,50), whose
    // commit relabels the group to 1 (new bucket), EMPTIES group 50's
    // old bucket (a drop step), and upserts docs 1/50/51 into the
    // doc projection. Hand-build the exact staging + commit marker that
    // merge leaves the instant after the marker is published.
    Dedup.buildComponentState(pairsDf((50L, 51L)), dir, stateBuckets = 64)
    def bucket(id: Long): Int =
      spark.range(1).select(pmod(xxhash64(lit(id)), lit(64L)).cast("int")).as[Int].head()
    val (g1, g50) = (bucket(1L), bucket(50L))
    assert(g1 !== g50, "fixture needs the relabel to change buckets")
    val post = Seq((1L, 1L), (50L, 1L), (51L, 1L))
    post.toDF("doc_id", "group_id").coalesce(1)
      .write.parquet(s"$dir/components__staged/gb=$g1")
    val dbs = post.map { case (d, g) => (d, g, bucket(d)) }
    dbs.groupBy(_._3).foreach { case (db, rows) =>
      rows.map(r => (r._1, r._2)).toDF("doc_id", "group_id").coalesce(1)
        .write.parquet(s"$dir/components_by_doc__staged/db=$db")
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    import graft.sources.StagedCommit.{Drop, Replace}
    graft.sources.StagedCommit.plan(fs, new org.apache.hadoop.fs.Path(s"$dir/commit.plan"),
      Seq(Replace(s"components__staged/gb=$g1", s"components/gb=$g1"),
        Drop(s"components/gb=$g50")) ++
        dbs.map(_._3).distinct.sorted.map(db =>
          Replace(s"components_by_doc__staged/db=$db", s"components_by_doc/db=$db")) ++
        Seq(Drop("components__staged"), Drop("components_by_doc__staged")))
    // a reader racing the (dead) writer must fail LOUDLY, not serve a
    // mix of pre- and post-merge buckets — and must not mutate
    val e = intercept[IllegalArgumentException] {
      Dedup.readComponentState(spark, dir).collect()
    }
    assert(e.getMessage.contains("unfinished merge commit"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.readComponentStateByDoc(spark, dir).collect()
    }
    assert(e2.getMessage.contains("unfinished merge commit"), e2.getMessage)
    assert(new java.io.File(s"$dir/commit.plan").exists(),
      "read must not have consumed the commit marker")
    // simulate the crash having landed MID-apply: the drop step (step
    // 1) already moved its bucket into the marker's trash — recovery
    // must be idempotent over applied steps
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/commit.plan.trash"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/components/gb=$g50"),
      new org.apache.hadoop.fs.Path(s"$dir/commit.plan.trash/1")))
    // recovery belongs to the single writer: any merge rolls the
    // commit forward (an empty edge batch is the minimal retry)
    Dedup.mergeComponentState(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), dir)
    assert(readSorted(dir) === post.sorted,
      "merge-entry recovery must complete the marked commit on BOTH projections")
    assert(!new java.io.File(s"$dir/commit.plan").exists(), "marker must be retired")
    assert(!new java.io.File(s"$dir/components__staged").exists(), "staging must be dropped")
    assert(!new java.io.File(s"$dir/commit.plan.trash").exists(), "trash must be deleted")
  }

  test("a crash inside compactComponentState's commit fails reads loudly and the next merge rolls it forward") {
    val dir = stateDir()
    val b1 = Seq((2L, 3L), (7L, 8L), (11L, 12L))
    Dedup.buildComponentState(pairsDf(b1: _*), dir, stateBuckets = 4)
    Dedup.mergeComponentState(pairsDf((3L, 7L)), dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$dir/$rel")
    // the compaction staged both projections and published the state's
    // marker, then crashed inside the group-keyed replace: the live
    // table already sits in the marker's trash, the compacted copy is
    // still staged
    val steps = Seq("components" -> "gb", "components_by_doc" -> "db").map { case (table, pcol) =>
      graft.sources.Sinks.stageCompaction(spark, s"$dir/$table", Seq(pcol), 128L * 1024 * 1024)
    }
    graft.sources.StagedCommit.plan(fs, p("commit.plan"), steps)
    fs.mkdirs(p("commit.plan.trash"))
    assert(fs.rename(p("components"), p("commit.plan.trash/0")))
    Seq(() => Dedup.readComponentState(spark, dir), () => Dedup.readComponentStateByDoc(spark, dir))
      .foreach { read =>
        val e = intercept[IllegalArgumentException](read().collect())
        assert(e.getMessage.contains("unfinished merge commit or compaction"), e.getMessage)
      }
    // the next merge rolls the compaction forward before it reads the
    // state, so both projections agree and nothing is lost
    Dedup.mergeComponentState(pairsDf((8L, 11L)), dir)
    assert(!fs.exists(p("commit.plan")) && !fs.exists(p("commit.plan.trash")))
    assert(readSorted(dir) === fullCc(b1 ++ Seq((3L, 7L), (8L, 11L)): _*))
  }

  test("stale debris under components/ fails the read loudly") {
    val dir = stateDir()
    Dedup.buildComponentState(pairsDf((60L, 61L)), dir, stateBuckets = 8)
    readSorted(dir) // healthy
    assert(new java.io.File(s"$dir/components/gb=3__old").mkdirs())
    val e = intercept[IllegalArgumentException] {
      Dedup.readComponentState(spark, dir).collect()
    }
    assert(e.getMessage.contains("stale debris"), e.getMessage)
  }

  test("stale debris under components_by_doc/ fails the doc-keyed read loudly") {
    val dir = stateDir()
    Dedup.buildComponentState(pairsDf((70L, 71L)), dir, stateBuckets = 8)
    readSorted(dir) // healthy
    assert(new java.io.File(s"$dir/components_by_doc/db=2__old").mkdirs())
    val e = intercept[IllegalArgumentException] {
      Dedup.readComponentStateByDoc(spark, dir).collect()
    }
    assert(e.getMessage.contains("stale debris"), e.getMessage)
  }

  test("lost doc projection: merge and doc-keyed read fail loudly, never self-root") {
    // the r14 advisor's window: components holds data but the doc
    // projection is gone (lost volume, partial copy). projectionDf's
    // schema-stable empty fallback must NOT silently root every merge
    // endpoint to itself — both projection consumers reject the state.
    val dir = stateDir()
    Dedup.buildComponentState(pairsDf((80L, 81L), (90L, 91L)), dir, stateBuckets = 8)
    readSorted(dir) // healthy
    rmTree(s"$dir/components_by_doc")
    val em = intercept[IllegalArgumentException] {
      Dedup.mergeComponentState(pairsDf((81L, 90L)), dir)
    }
    assert(em.getMessage.contains("diverged"), em.getMessage)
    val er = intercept[IllegalArgumentException] {
      Dedup.readComponentStateByDoc(spark, dir).collect()
    }
    assert(er.getMessage.contains("diverged"), er.getMessage)
    // heal = rebuild: the state then reads and merges normally again
    Dedup.buildComponentState(pairsDf((80L, 81L), (90L, 91L)), dir, stateBuckets = 8)
    Dedup.mergeComponentState(pairsDf((81L, 90L)), dir)
    assert(readSorted(dir) === fullCc((80L, 81L), (90L, 91L), (81L, 90L)))
  }

  test("lost group-keyed table: ALL state consumers fail loudly (mirrored divergence)") {
    // the r15 review's mirror of the lost-projection window: the doc
    // projection survives but `components` itself is gone. Without a
    // bidirectional guard, readComponentState serves the schema-stable
    // EMPTY fallback ("every doc unique") while the doc projection
    // still answers stale group ids — and a merge rewrites components
    // from the batch alone, after which BOTH directions agree on a
    // permanently diverged state.
    val dir = stateDir()
    Dedup.buildComponentState(pairsDf((80L, 81L), (90L, 91L)), dir, stateBuckets = 8)
    readSorted(dir) // healthy
    rmTree(s"$dir/components")
    Seq(
      () => Dedup.readComponentState(spark, dir).collect(): Unit,
      () => Dedup.readComponentStateByDoc(spark, dir).collect(): Unit,
      () => Dedup.mergeComponentState(pairsDf((81L, 90L)), dir)
    ).foreach { consumer =>
      val e = intercept[IllegalArgumentException](consumer())
      assert(e.getMessage.contains("diverged"), e.getMessage)
    }
    // heal = rebuild
    Dedup.buildComponentState(pairsDf((80L, 81L), (90L, 91L)), dir, stateBuckets = 8)
    Dedup.mergeComponentState(pairsDf((81L, 90L)), dir)
    assert(readSorted(dir) === fullCc((80L, 81L), (90L, 91L), (81L, 90L)))
  }

  test("rebuild-over-existing-state crash window: meta is invalidated first") {
    // buildComponentState over an EXISTING state deletes meta before
    // the two projection overwrites and re-writes it last, so a crash
    // between the writes leaves a state every consumer rejects (no
    // stale meta blessing a components/projection mix). Simulate the
    // crash point by deleting meta from a healthy state.
    val dir = stateDir()
    Dedup.buildComponentState(pairsDf((30L, 31L)), dir, stateBuckets = 8)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/meta.json"))
    intercept[Exception] { Dedup.readComponentState(spark, dir).collect() }
    intercept[Exception] { Dedup.readComponentStateByDoc(spark, dir).collect() }
    intercept[Exception] { Dedup.mergeComponentState(pairsDf((31L, 32L)), dir) }
    // the completed rebuild (meta re-written last) heals it
    Dedup.buildComponentState(pairsDf((30L, 31L)), dir, stateBuckets = 8)
    assert(readSorted(dir) === fullCc((30L, 31L)))
  }

  test("survivorsFromState ≡ survivors over a full recompute") {
    val dir = stateDir()
    val b1 = Seq((5L, 6L), (9L, 10L)); val b2 = Seq((6L, 9L), (20L, 21L))
    Dedup.buildComponentState(pairsDf(b1: _*), dir, stateBuckets = 8)
    Dedup.mergeComponentState(pairsDf(b2: _*), dir)
    val scores = Seq((5L, 0.2), (6L, 0.9), (9L, 0.9), (10L, 0.1), (20L, 0.5), (21L, 0.7))
      .toDF("doc_id", "quality")
    val fromState = Dedup.survivorsFromState(spark, dir, scores)
      .select("doc_id", "group_id", "keep").as[(Long, Long, Boolean)].collect().toSet
    val recompute = Dedup.survivors(
      Dedup.connectedComponents(pairsDf(b1 ++ b2: _*)), scores)
      .select("doc_id", "group_id", "keep").as[(Long, Long, Boolean)].collect().toSet
    assert(fromState === recompute)
    // ties broke toward the smaller id: 6 beats 9 in the merged group
    assert(fromState.contains((6L, 5L, true)) && fromState.contains((9L, 5L, false)))
  }
}
