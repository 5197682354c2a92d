package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Fixed-point PageRank: hand-computed masses, conservation, edge
  * hygiene, and the determinism contract (identical at any partition
  * layout — the property the fixed-point arithmetic exists for). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000000L

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap

  test("one sweep over a→b matches the hand-folded integer arithmetic") {
    // n=2, r0 = S/2. damped = r0*85 DIV 100. b has no out-edges, so
    // its damped mass pools and redistributes DIV 2; base = (S*15
    // DIV 100) DIV 2; a gets base+dshare, b adds a's full share
    // (outdeg 1).
    val r0 = S / 2
    val damped = r0 * 85 / 100
    val dshare = damped / 2
    val base = (S * 15 / 100) / 2
    val got = ranksOf(Seq((1L, 2L)), iters = 1)
    assert(got === Map(1L -> (base + dshare), 2L -> (base + dshare + damped)))
  }

  test("star graph: the hub out-ranks every leaf, mass is conserved up to truncation") {
    // leaves 1..6 all point at hub 0; hub points back at leaf 1
    val edges = (1L to 6L).map(l => (l, 0L)) :+ (0L, 1L)
    val got = ranksOf(edges, iters = 5)
    assert(got.keySet === (0L to 6L).toSet)
    val hub = got(0L)
    (2L to 6L).foreach(l => assert(hub > got(l), s"hub must out-rank leaf $l"))
    // integer division truncates a few units per node per sweep —
    // never mints mass, never loses more than iters·(nodes+edges+2)
    val total = got.values.sum
    assert(total <= S, s"mass minted: $total > $S")
    assert(total >= S - 5L * (7 + edges.size + 2) * 100, s"mass hemorrhaged: $total")
  }

  test("multi-edges collapse and self-loops drop") {
    val clean = ranksOf(Seq((1L, 2L), (2L, 3L), (3L, 1L)), iters = 3)
    val noisy = ranksOf(Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 3L),
      (3L, 1L), (2L, 2L), (3L, 3L)), iters = 3)
    assert(noisy === clean)
  }

  test("ranks are identical at any partition layout") {
    val edges = (0L until 200L).flatMap(d =>
      Seq((d, (d * 7 + 3) % 97), (d, (d * 13 + 5) % 97)))
    def run(parts: Int): Map[Long, Long] =
      Graph.pageRank(edges.toDF("src", "dst").repartition(parts), iters = 4)
        .as[(Long, Long)].collect().toMap
    assert(run(2) === run(17))
  }

  test("personalized PageRank: mass stays with the seed component; Scala replay parity") {
    // two disconnected components; the seed sits in the first (a
    // dense 3-clique — bidirectional edges, so the seed's restart
    // mass reflects back and it is strictly max from sweep 2 on; a
    // plain directed cycle oscillates for ~50 sweeps) — the second
    // can receive NOTHING (starts at 0, no teleport, no path)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    val got = Graph.personalizedPageRank(
        edges.toDF("src", "dst"), Seq(1L).toDF("node"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(Seq(10L, 11L, 12L).forall(got(_) === 0L),
      "unreachable component must hold zero mass")
    assert(got(1L) > got(2L), "the seed holds the restart mass")
    // engine-independent Scala replay of the SQL semantics
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L)
    val sSet = Set(1L)
    val odeg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    var r = nodes.map(v => v -> (if (sSet(v)) S else 0L)).toMap
    for (_ <- 1 to 4) {
      val d = r.map { case (k, v) => k -> v * 85 / 100 }
      val dshare = nodes.filterNot(odeg.contains).map(d).sum // DIV 1 seed
      val base = S * 15 / 100
      r = nodes.map { v =>
        val inc = edges.filter(_._2 == v).map { case (u, _) => d(u) / odeg(u) }.sum
        v -> ((if (sSet(v)) base + dshare else 0L) + inc)
      }.toMap
    }
    assert(got === r)
    // a seed set absent from the graph is a loud error, not a 0-graph
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges.toDF("src", "dst"),
        Seq(99L).toDF("node"), iters = 2)
    }
  }

  test("spark ranks equal the unrolled-SQL semantics on a dangling-heavy fixture") {
    // replay pageRankSql's arithmetic in Scala over the same edges —
    // an engine-independent second implementation of the spec
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to 3) {
      val d = r.map { case (k, v) => k -> v * 85 / 100 }
      val dshare = nodes.filterNot(odeg.contains).map(d).sum / n
      val base = (S * 15 / 100) / n
      r = nodes.map { v =>
        val inc = edges.filter(_._2 == v).map { case (u, _) => d(u) / odeg(u) }.sum
        v -> (base + dshare + inc)
      }.toMap
    }
    assert(ranksOf(edges, iters = 3) === r)
  }

  // ── persisted rank artifact (GraphArtifact) ───────────────────────

  import graft.operators.GraphArtifact

  private def tmpArt(): String =
    java.nio.file.Files.createTempDirectory("graft-prart-spec").toString

  private val artEdges = (0L until 120L).flatMap(d =>
    Seq((d, (d * 7 + 3) % 61), (d, (d * 13 + 5) % 61)))

  test("rank artifact: batch fold + re-sweep ≡ from-scratch recompute over the union graph") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 4)
    GraphArtifact.ingestEdgeBatch(
      artEdges.filter(_._1 % 2 == 0).toDF("src", "dst"), path, 0L)
    GraphArtifact.refreshRanks(spark, path) // partial-graph version
    GraphArtifact.ingestEdgeBatch(
      artEdges.filter(_._1 % 2 == 1).toDF("src", "dst"), path, 1L)
    // redelivered batch 0 AND an overlapping slice re-sent under a new
    // key: the union graph is a SET, so neither may change the ranks
    GraphArtifact.ingestEdgeBatch(
      artEdges.filter(_._1 % 2 == 0).toDF("src", "dst"), path, 0L)
    GraphArtifact.ingestEdgeBatch(
      artEdges.filter(_._1 % 4 == 1).toDF("src", "dst"), path, 2L)
    GraphArtifact.refreshRanks(spark, path)
    val served = GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap
    val scratch = Graph.pageRank(artEdges.toDF("src", "dst"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(served === scratch)
    // the second serving surface: PPR over a fresh seed set runs off
    // the STANDING edge state (no re-derivation), equal to PPR over
    // the raw union
    val seeds = Seq(0L, 1L, 2L).toDF("node")
    assert(Graph.personalizedPageRank(
        GraphArtifact.standingEdges(spark, path), seeds, iters = 3)
        .as[(Long, Long)].collect().toMap ===
      Graph.personalizedPageRank(artEdges.toDF("src", "dst"), seeds, iters = 3)
        .as[(Long, Long)].collect().toMap)
    rmTree(path)
  }

  test("rank artifact: a DIFFERENT payload under a used batch key fails loudly") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), path, 0L)
    val e = intercept[IllegalArgumentException] {
      GraphArtifact.ingestEdgeBatch(Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"), path, 0L)
    }
    assert(e.getMessage.contains("DIFFERENT contribution"))
    rmTree(path)
  }

  test("rank artifact: crash debris without _fp is invisible, and the retry heals it") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), path, 0L)
    // crash mid-land: parquet bytes present, no fingerprint committed
    Seq((7L, 8L)).toDF("src", "dst")
      .write.parquet(s"$path/parts/b=9")
    GraphArtifact.refreshRanks(spark, path)
    val withoutDebris = GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(!withoutDebris.contains(7L), "uncommitted batch must not rank")
    // the retry overwrites the debris and commits; now it counts
    GraphArtifact.ingestEdgeBatch(Seq((7L, 8L)).toDF("src", "dst"), path, 9L)
    GraphArtifact.refreshRanks(spark, path)
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap.contains(7L))
    rmTree(path)
  }

  test("rank artifact: incomplete versions are never served; pointer loss falls back") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), path, 0L)
    GraphArtifact.refreshRanks(spark, path)
    val good = GraphArtifact.readRanks(spark, path).as[(Long, Long)].collect().toMap
    // a crashed refresh left rank bytes but no meta, with a HIGHER
    // version number — it must be ineligible for serving
    Seq((99L, 123456L)).toDF("node", "rank")
      .write.parquet(s"$path/ranks/v_99/ranks")
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === good)
    // pointer vanishing mid-swap: newest COMPLETE version serves
    rmTree(s"$path/ranks/CURRENT")
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === good)
    // the next refresh GCs the incomplete debris and numbers past it
    val published = GraphArtifact.refreshRanks(spark, path)
    assert(published === "v_100")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/ranks/v_99")))
    rmTree(path)
  }

  test("rank artifact: compaction collapses batch files, keeps fingerprints, replay and ranks identical") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    val b0 = artEdges.filter(_._1 % 2 == 0)
    // land a deliberately fragmented batch: AQE normally coalesces a
    // tiny dedup shuffle to one partition, so suspend it for the
    // fixture ingest (real crawl batches fragment on their own)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try GraphArtifact.ingestEdgeBatch(b0.toDF("src", "dst").repartition(8), path, 0L)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    GraphArtifact.refreshRanks(spark, path)
    val before = GraphArtifact.readRanks(spark, path).as[(Long, Long)].collect().toMap
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/parts/b=0"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(files() > 1, "fixture must start fragmented")
    GraphArtifact.compactEdgeBatches(spark, path)
    assert(files() === 1, "batch files must collapse")
    // the _fp traveled: a redelivery of the same payload is still a no-op,
    // a different one still fails loudly
    GraphArtifact.ingestEdgeBatch(b0.toDF("src", "dst"), path, 0L)
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.ingestEdgeBatch(Seq((1L, 99L)).toDF("src", "dst"), path, 0L)
    }.getMessage.contains("DIFFERENT contribution"))
    // ranks re-swept off the compacted state are identical
    GraphArtifact.refreshRanks(spark, path)
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === before)
    // crash windows: a compaction commit that crashed inside its
    // replace of b=0 (live dir moved aside, the compacted copy staged, the
    // marker pending) fails readers loudly and is rolled forward at the
    // next single-writer entry; staging debris from before a marker is
    // dropped and never read
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/parts/b=0"),
      new org.apache.hadoop.fs.Path(s"$path/parts/b=0__staged"))
    graft.sources.StagedCommit.plan(fs, new org.apache.hadoop.fs.Path(s"$path/parts/_compact.plan"),
      Seq(graft.sources.StagedCommit.Replace("b=0__staged", "b=0")))
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.standingEdges(spark, path).collect()
    }.getMessage.contains("compaction in progress"))
    Seq((100007L, 100008L)).toDF("src", "dst")
      .write.parquet(s"$path/parts/b=5__staged")
    GraphArtifact.refreshRanks(spark, path) // entry heals, then sweeps ALL batches
    val healed = GraphArtifact.readRanks(spark, path).as[(Long, Long)].collect().toMap
    assert(healed === before, "healed state must sweep the full batch set")
    assert(!healed.contains(100007L), "staging debris must never fold")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/parts/b=5__staged")))
    rmTree(path)
  }

  test("rank artifact: maybeRefreshRanks refreshes only past the growth bound") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(
      (0L until 100L).map(d => (d, (d * 7 + 3) % 41)).toDF("src", "dst"), path, 0L)
    // never published → unconditional refresh
    assert(GraphArtifact.maybeRefreshRanks(spark, path, growthPct = 10) === Some("v_1"))
    // no new data → no new version
    assert(GraphArtifact.maybeRefreshRanks(spark, path, growthPct = 10).isEmpty)
    // 3 new rows on 100 swept: under the 10% bound → still v_1
    GraphArtifact.ingestEdgeBatch(
      Seq((200L, 201L), (201L, 202L), (202L, 200L)).toDF("src", "dst"), path, 1L)
    assert(GraphArtifact.maybeRefreshRanks(spark, path, growthPct = 10).isEmpty)
    // ...but a 1% bound trips on the same growth
    assert(GraphArtifact.maybeRefreshRanks(spark, path, growthPct = 1) === Some("v_2"))
    // past the bound: refresh runs and the served ranks cover the union
    GraphArtifact.ingestEdgeBatch(
      (300L until 330L).map(d => (d, d + 1)).toDF("src", "dst"), path, 2L)
    assert(GraphArtifact.maybeRefreshRanks(spark, path, growthPct = 10) === Some("v_3"))
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap.contains(300L))
    rmTree(path)
  }

  test("rank artifact: merge-compaction bounds dir count; replay, ranks and refusal all hold") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    val slices = (0 until 5).map(m => artEdges.filter(_._1 % 5 == m))
    slices.zipWithIndex.foreach { case (s, k) =>
      GraphArtifact.ingestEdgeBatch(s.toDF("src", "dst"), path, k.toLong)
    }
    GraphArtifact.refreshRanks(spark, path)
    val before = GraphArtifact.readRanks(spark, path).as[(Long, Long)].collect().toMap
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partNames() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/parts"))
      .map(_.getPath.getName).toSet
    GraphArtifact.mergeEdgeBatches(spark, path, maxDirs = 2)
    // ONE merged dir serves; the five single dirs are GONE — their
    // replay fingerprints ride in the merged part's `_sources` (no
    // dir per batch, so the dir listing is actually bounded)
    assert(partNames().contains("b=0_4"))
    (0 until 5).foreach { k =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/parts/b=$k")),
        s"merged-away single b=$k must not keep a dir")
    }
    val sourcesIn = fs.open(new org.apache.hadoop.fs.Path(s"$path/parts/b=0_4/_sources"))
    val sources = try scala.io.Source.fromInputStream(sourcesIn, "UTF-8").mkString
    finally sourcesIn.close()
    (0 until 5).foreach(k => assert(sources.contains(s"b=$k "),
      s"the merged part must record b=$k's fingerprint"))
    GraphArtifact.refreshRanks(spark, path)
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === before,
      "merged state must sweep to identical ranks")
    // replay of a merged-away key: same payload no-ops, different is loud
    GraphArtifact.ingestEdgeBatch(slices(1).toDF("src", "dst"), path, 1L)
    GraphArtifact.refreshRanks(spark, path)
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === before,
      "a redelivered merged-away batch must stay a no-op")
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.ingestEdgeBatch(Seq((1L, 999L)).toDF("src", "dst"), path, 1L)
    }.getMessage.contains("DIFFERENT contribution"))
    // a late batch beside the merged dir; one standing single can't
    // merge alone, so this tick CONSOLIDATES (merged source deleted —
    // synthetic keys take no replays — freeing its name range) and
    // the union is still exact
    GraphArtifact.ingestEdgeBatch(Seq((500L, 501L), (501L, 500L)).toDF("src", "dst"), path, 7L)
    GraphArtifact.mergeEdgeBatches(spark, path, maxDirs = 1)
    assert(partNames().contains("b=0_7") && !partNames().contains("b=0_4"))
    // the consolidated part carries b=0_4's record: a replay still no-ops
    GraphArtifact.ingestEdgeBatch(slices(1).toDF("src", "dst"), path, 1L)
    assert(!partNames().contains("b=1"), "a merged-away key must stay retired through a consolidation")
    GraphArtifact.refreshRanks(spark, path)
    val after = GraphArtifact.readRanks(spark, path).as[(Long, Long)].collect().toMap
    val scratch = Graph.pageRank(
      (artEdges ++ Seq((500L, 501L), (501L, 500L))).toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(after === scratch)
    // integrity refusal: a corrupted committed dir (extra rows smuggled
    // in) must refuse to merge, not launder into a fresh commit
    Seq((900L, 901L)).toDF("src", "dst").coalesce(1)
      .write.mode("append").parquet(s"$path/parts/b=0_7")
    GraphArtifact.ingestEdgeBatch(Seq((600L, 601L)).toDF("src", "dst"), path, 8L)
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.mergeEdgeBatches(spark, path, maxDirs = 1)
    }.getMessage.contains("fails its fingerprint"))
    rmTree(path)
  }

  test("rank artifact: merge crash windows roll back (untouched sources) or forward (tombstoning began)") {
    import graft.sources.StagedCommit.{Drop, Replace}
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(Seq((1L, 2L)).toDF("src", "dst"), path, 0L)
    GraphArtifact.ingestEdgeBatch(Seq((2L, 3L)).toDF("src", "dst"), path, 1L)
    GraphArtifact.refreshRanks(spark, path)
    val want = GraphArtifact.readRanks(spark, path).as[(Long, Long)].collect().toMap
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$path/parts/$rel")
    def writeFile(rel: String, body: String): Unit = {
      val out = fs.create(p(rel), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def readFp(b: String): String = {
      val in = fs.open(p(s"$b/_fp"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }
    def fpParts(fp: String) =
      (fp.substring(0, fp.indexOf('x')).toLong, fp.substring(fp.indexOf('x') + 1).toLong)
    val (fp0, fp1) = (readFp("b=0"), readFp("b=1"))
    val ((c0, x0), (c1, x1)) = (fpParts(fp0), fpParts(fp1))
    // the merged part exactly as mergeEdgeBatches stages it
    def stageMerged(): Unit = {
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").write.parquet(s"$path/parts/b=0_1__staged")
      writeFile("b=0_1__staged/_sources", s"b=0 $fp0\nb=1 $fp1\n")
      writeFile("b=0_1__staged/_fp", s"${c0 + c1}x${x0 ^ x1}")
    }
    // ROLLBACK window: the merged part staged, no marker yet —
    // recovery must drop the staged twin and keep the sources
    stageMerged()
    GraphArtifact.refreshRanks(spark, path) // single-writer entry heals
    assert(!fs.exists(p("b=0_1")) && !fs.exists(p("b=0_1__staged")),
      "a staged merge without its marker is debris, not a commit")
    assert(fs.exists(p("b=0/_fp")) && fs.exists(p("b=1/_fp")))
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === want)
    // ROLL-FORWARD window: the marker pending, its replace applied and
    // the first source already moved into the marker's trash —
    // readers fail loudly, and recovery must finish the merge, losing
    // nothing
    stageMerged()
    val marker = p("_compact.plan")
    graft.sources.StagedCommit.plan(fs, marker,
      Seq(Replace("b=0_1__staged", "b=0_1"), Drop("b=0"), Drop("b=1")))
    fs.rename(p("b=0_1__staged"), p("b=0_1"))
    fs.mkdirs(p("_compact.plan.trash"))
    fs.rename(p("b=0"), p("_compact.plan.trash/1"))
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.standingEdges(spark, path).collect()
    }.getMessage.contains("in progress or crashed"))
    GraphArtifact.refreshRanks(spark, path)
    assert(fs.exists(p("b=0_1/_fp")), "a committed merge must roll forward")
    assert(!fs.exists(p("b=0")) && !fs.exists(p("b=1")),
      "roll-forward must finish retiring the sources")
    assert(!fs.exists(marker) && !fs.exists(p("_compact.plan.trash")))
    assert(GraphArtifact.readRanks(spark, path)
      .as[(Long, Long)].collect().toMap === want)
    // a redelivery of a merged-away key is still a no-op, and a
    // different payload under it is still loud
    GraphArtifact.ingestEdgeBatch(Seq((1L, 2L)).toDF("src", "dst"), path, 0L)
    assert(!fs.exists(p("b=0")), "a redelivered merged-away batch must not land again")
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.ingestEdgeBatch(Seq((9L, 8L)).toDF("src", "dst"), path, 0L)
    }.getMessage.contains("DIFFERENT contribution"))
    rmTree(path)
  }

  test("PPR memo: seed-set identity, staleness supersession, and loud guards") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(artEdges.filter(_._1 % 2 == 0).toDF("src", "dst"), path, 0L)
    val seedsA = Seq(0L, 1L, 2L).toDF("node")
    val seedsB = Seq(40L, 41L).toDF("node")
    // unswept seed set: read refuses loudly (a silent empty would read
    // as "no proximity" — the one wrong answer)
    assert(intercept[RuntimeException] {
      GraphArtifact.readPpr(spark, path, seedsA)
    }.getMessage.contains("no published PPR for this seed set"))
    // never-swept → refresh; fresh → no-op
    assert(GraphArtifact.maybeRefreshPpr(spark, path, seedsA) === Some("v_1"))
    assert(GraphArtifact.maybeRefreshPpr(spark, path, seedsA) === None)
    val partialA = GraphArtifact.readPpr(spark, path, seedsA)
      .as[(Long, Long)].collect().toMap
    assert(partialA === Graph.personalizedPageRank(
      artEdges.filter(_._1 % 2 == 0).toDF("src", "dst"), seedsA, iters = 3)
      .as[(Long, Long)].collect().toMap)
    // identity is the seed SET: row order, layout AND duplicate rows
    // don't matter (r17 review: personalizedPageRank distincts seeds
    // itself, so {0,0,1,2} is the same kernel as {0,1,2})
    assert(GraphArtifact.readPpr(spark, path,
      Seq(2L, 0L, 1L).toDF("node").repartition(3))
      .as[(Long, Long)].collect().toMap === partialA)
    assert(GraphArtifact.readPpr(spark, path,
      Seq(0L, 0L, 1L, 2L, 2L).toDF("node"))
      .as[(Long, Long)].collect().toMap === partialA)
    // ...and a DIFFERENT set is a different memo (B unswept, A intact)
    assert(intercept[RuntimeException] {
      GraphArtifact.readPpr(spark, path, seedsB)
    }.getMessage.contains("no published PPR"))
    assert(GraphArtifact.maybeRefreshPpr(spark, path, seedsB) === Some("v_1"))
    assert(GraphArtifact.readPpr(spark, path, seedsB)
      .as[(Long, Long)].collect().toMap !== partialA)
    assert(GraphArtifact.readPpr(spark, path, seedsA)
      .as[(Long, Long)].collect().toMap === partialA,
      "refreshing one seed set must not disturb another's memo")
    // staleness: the full graph lands (~2× rows) — A's memo is stale
    // until the growth trigger supersedes it with v_2
    GraphArtifact.ingestEdgeBatch(artEdges.filter(_._1 % 2 == 1).toDF("src", "dst"), path, 1L)
    assert(GraphArtifact.readPpr(spark, path, seedsA)
      .as[(Long, Long)].collect().toMap === partialA, "unrefreshed memo serves the old sweep")
    assert(GraphArtifact.maybeRefreshPpr(spark, path, seedsA, growthPct = 10) === Some("v_2"))
    assert(GraphArtifact.readPpr(spark, path, seedsA)
      .as[(Long, Long)].collect().toMap ===
      Graph.personalizedPageRank(artEdges.toDF("src", "dst"), seedsA, iters = 3)
        .as[(Long, Long)].collect().toMap,
      "superseded memo must equal a fresh full-graph sweep")
    // a typo'd artifact path is loud, not a silent no-op tick
    intercept[Exception] {
      GraphArtifact.maybeRefreshPpr(spark, s"$path-nope", seedsA)
    }
    // publish-stamp counter (r19 advice: O(1) FS read per refresh, not
    // a meta read per memo): losing it — a crash inside the
    // reservation write's delete→rename window — falls back to the
    // max-over-memos scan and can NEVER assign a duplicate stamp
    val counter = java.nio.file.Paths.get(s"$path/ppr/_pub_seq.json")
    assert(java.nio.file.Files.exists(counter), "refresh must persist the stamp counter")
    def stamps(): Seq[Long] = {
      val pprDir = new java.io.File(s"$path/ppr")
      pprDir.listFiles.filter(_.isDirectory).toSeq.map { m =>
        graft.sources.IndexMeta.read(spark,
          graft.sources.VersionedRoot.resolve(spark, m.toString, "t").get + "/meta.json",
          "t")("pub_seq")
      }
    }
    java.nio.file.Files.delete(counter)
    GraphArtifact.refreshPpr(spark, path, seedsB) // fallback scan path
    val all = stamps()
    assert(all.distinct.length === all.length,
      s"stamps must stay unique after counter loss, got $all")
    assert(java.nio.file.Files.exists(counter), "the fallback must re-reserve the counter")
    rmTree(path)
  }

  test("PPR memo retention: prune evicts oldest-refreshed, dropPpr is explicit, eviction re-derives") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(artEdges.toDF("src", "dst"), path, 0L)
    val kernels = Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L, 5L)).map(_.toDF("node"))
    // no mtime sleep needed: eviction ranks on the monotonic pub_seq
    // stamp (r18 advice — coarse mtime granularity ties broke by name
    // and could evict the most-recently refreshed kernel)
    kernels.foreach(k => GraphArtifact.maybeRefreshPpr(spark, path, k))
    val full = kernels.map(k =>
      GraphArtifact.readPpr(spark, path, k).as[(Long, Long)].collect().toMap)
    // prune to 2: the FIRST-refreshed kernel is evicted, the others intact
    val evicted = GraphArtifact.prunePprMemos(spark, path, maxMemos = 2)
    assert(evicted.length === 1)
    assert(GraphArtifact.prunePprMemos(spark, path, maxMemos = 2) === Seq.empty)
    assert(intercept[RuntimeException] {
      GraphArtifact.readPpr(spark, path, kernels(0))
    }.getMessage.contains("no published PPR"), "evicted memo must be loud, never stale")
    assert(GraphArtifact.readPpr(spark, path, kernels(1))
      .as[(Long, Long)].collect().toMap === full(1))
    // the evicted kernel re-derives fully and correctly
    assert(GraphArtifact.maybeRefreshPpr(spark, path, kernels(0)).nonEmpty)
    assert(GraphArtifact.readPpr(spark, path, kernels(0))
      .as[(Long, Long)].collect().toMap === full(0))
    // explicit retirement
    GraphArtifact.dropPpr(spark, path, kernels(2))
    assert(intercept[RuntimeException] {
      GraphArtifact.readPpr(spark, path, kernels(2))
    }.getMessage.contains("no published PPR"))
    // seed-identity guard (r17 advice): a memo whose stored identity
    // disagrees with the probe's — a dirname collision or tampering —
    // refuses instead of serving another kernel's ranks
    val res = graft.sources.VersionedRoot.resolve(
      spark, s"$path/ppr/" + new java.io.File(s"$path/ppr").list()
        .filter(_.startsWith("s")).head, "t").get
    val vm = graft.sources.IndexMeta.read(spark, s"$res/meta.json", "t")
    graft.sources.IndexMeta.write(spark, s"$res/meta.json",
      (vm + ("seed_alt" -> (vm("seed_alt") + 1L))).toSeq)
    val survivor = kernels.zipWithIndex.find { case (k, _) =>
      try { GraphArtifact.readPpr(spark, path, k); false }
      catch { case e: Exception => e.getMessage.contains("does not match this seed set") }
    }
    assert(survivor.nonEmpty, "tampered identity must be loud for its kernel")
    rmTree(path)
  }

  test("PPR memo: readPpr refuses a memo without seed identity") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    GraphArtifact.ingestEdgeBatch(artEdges.toDF("src", "dst"), path, 0L)
    val seeds = Seq(0L, 1L).toDF("node")
    GraphArtifact.maybeRefreshPpr(spark, path, seeds)
    // strip the identity from the served version meta
    val memoRoot = s"$path/ppr/" + new java.io.File(s"$path/ppr").list()
      .filter(_.startsWith("s")).head
    val res = graft.sources.VersionedRoot.resolve(spark, memoRoot, "t").get
    val vm = graft.sources.IndexMeta.read(spark, s"$res/meta.json", "t")
    graft.sources.IndexMeta.write(spark, s"$res/meta.json",
      (vm - "seed_n" - "seed_alt").toSeq)
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.readPpr(spark, path, seeds)
    }.getMessage.contains("does not match this seed set"))
    rmTree(path)
  }

  test("rank artifact: init/refresh/read guards are loud") {
    val path = tmpArt()
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    // same params: no-op; different params: loud
    GraphArtifact.initRankArtifact(spark, path, iters = 3)
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.initRankArtifact(spark, path, iters = 5)
    }.getMessage.contains("different dimensions"))
    // nothing ingested → refresh refuses; nothing published → read refuses
    assert(intercept[IllegalArgumentException] {
      GraphArtifact.refreshRanks(spark, path)
    }.getMessage.contains("no committed edge batches"))
    assert(intercept[RuntimeException] {
      GraphArtifact.readRanks(spark, path)
    }.getMessage.contains("no published version"))
    rmTree(path)
  }

  test("reliable-checkpoint mode (checkpoint dir configured) returns identical ranks") {
    // Checkpoints.pin switches every lineage sever in the sweeps to a
    // fault-tolerant spark.checkpoint when the context has a
    // checkpoint dir — the cluster-robust mode (localCheckpoint blocks
    // die with their executor). Results must be identical either way;
    // only recovery characteristics differ. iters = 4 crosses the
    // every-3rd-sweep sever, so the reliable path actually executes.
    val edges = (0L until 150L).flatMap(d =>
      Seq((d, (d * 7 + 3) % 89), (d, (d * 11 + 5) % 89)))
    val local = ranksOf(edges, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      assert(ranksOf(edges, iters = 4) === local)
      // the reliable path really wrote checkpoint state
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(wrote.count() > 1) finally wrote.close()
    } finally {
      // restore the shared session's local mode for every other suite
      spark.sparkContext.setCheckpointDir(null)
      rmTree(dir)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
