package graft

import graft.operators.Merge
import org.apache.spark.sql.DataFrame

/** Property tests for the upsert jobs (SURVEY.md §2.8, U1-U7):
  * idempotence (re-applying a batch is a no-op), key uniqueness, and
  * DO-UPDATE vs DO-NOTHING provenance rules. Randomized cases are
  * generated from a fixed seed (self-contained property loop — the
  * scalatest/scalacheck bridge artifact isn't available offline).
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(Int, String, Double)]): DataFrame =
    rows.toDF("k", "d", "v")

  private def randomRows(rng: scala.util.Random, n: Int): Seq[(Int, String, Double)] =
    Seq.fill(n)((rng.nextInt(10), "abc" (rng.nextInt(3)).toString, rng.nextInt(1000) / 10.0))

  private def canon(x: DataFrame): Set[(Int, String, Double)] =
    x.as[(Int, String, Double)].collect().toSet

  test("upsert: updates win on key collisions, others untouched") {
    val target = df(Seq((1, "a", 1.0), (2, "a", 2.0)))
    val updates = df(Seq((2, "a", 20.0), (3, "a", 3.0)))
    assert(canon(Merge.upsert(target, updates, Seq("k", "d"))) ===
      Set((1, "a", 1.0), (2, "a", 20.0), (3, "a", 3.0)))
  }

  test("insertIgnore: existing rows win") {
    val target = df(Seq((1, "a", 1.0), (2, "a", 2.0)))
    val updates = df(Seq((2, "a", 20.0), (3, "a", 3.0)))
    assert(canon(Merge.insertIgnore(target, updates, Seq("k", "d"))) ===
      Set((1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0)))
  }

  test("merge is idempotent, key-unique, and covers both key sets (property, seed 42)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 8) {
      val target = df(randomRows(rng, 30)).dropDuplicates("k", "d")
      val updates = df(randomRows(rng, 30))
      val allKeys = canon(target).map(r => (r._1, r._2)) ++
        canon(updates).map(r => (r._1, r._2))
      for (op <- Seq(Merge.upsert _, Merge.insertIgnore _)) {
        val once = op(target, updates, Seq("k", "d"))
        val twice = op(once, updates, Seq("k", "d"))
        assert(canon(once) === canon(twice), "idempotence")
        val keys = once.select("k", "d").collect().map(r => (r.getInt(0), r.getString(1)))
        assert(keys.length === keys.distinct.length, "key uniqueness")
        assert(keys.toSet === allKeys, "key coverage")
      }
    }
  }

  test("overwrite dedups the incoming batch on the key") {
    val updates = df(Seq((1, "a", 1.0), (1, "a", 9.0), (2, "b", 2.0)))
    assert(Merge.overwrite(updates, Seq("k", "d")).count() === 2)
  }

  test("same-key rows of one batch keep one deterministic survivor in every operation") {
    // a bootstrap (overwrite) and a replay (upsert / insertIgnore) of a
    // batch carrying one key twice must persist the same row whatever
    // order the batch arrives in
    val keys = Seq("k", "d")
    val target = df(Seq((2, "a", 2.0), (3, "b", 3.0)))
    val dups = Seq((1, "a", 10.0), (1, "a", 20.0), (3, "b", 30.0), (3, "b", 31.0))
    def outcomes(batch: Seq[(Int, String, Double)]) = Seq(
      canon(Merge.upsert(target, df(batch), keys)),
      canon(Merge.insertIgnore(target, df(batch), keys)),
      canon(Merge.overwrite(df(batch), keys)))
    val forward = outcomes(dups)
    assert(forward === outcomes(dups.reverse))
    forward.foreach(rows => assert(rows.toSeq.map(r => (r._1, r._2)).distinct.size === rows.size))
    val survivor = forward(2).find(_._1 == 1).get
    assert(forward(0).contains(survivor), "upsert and overwrite must keep the same survivor")
    assert(forward(1).contains((3, "b", 3.0)), "insertIgnore keeps the existing row")
  }

  test("scd2: closes changed, opens new, passes unchanged/absent; idempotent") {
    import org.apache.spark.sql.functions._
    val dim0 = Seq((1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0))
      .toDF("k", "seg", "bal")
      .withColumn("valid_from", lit("d1"))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    // snapshot at d2: k=1 unchanged, k=2 attr change, k=3 absent, k=4 new
    val snap = Seq((1, "A", 10.0), (2, "B2", 20.0), (4, "D", 40.0)).toDF("k", "seg", "bal")
    def canon(x: org.apache.spark.sql.DataFrame) =
      x.as[(Int, String, Double, String, Option[String], Boolean)].collect().toSet
    val v1 = Merge.scd2(dim0, snap, Seq("k"), "d2")
    assert(canon(v1) === Set(
      (1, "A", 10.0, "d1", None, true),        // unchanged current
      (2, "B", 20.0, "d1", Some("d2"), false), // closed version
      (2, "B2", 20.0, "d2", None, true),       // reopened version
      (3, "C", 30.0, "d1", None, true),        // absent from snapshot → kept
      (4, "D", 40.0, "d2", None, true)))       // first version of a new key
    // re-applying the same snapshot at the same asOf is a no-op
    assert(canon(Merge.scd2(v1, snap, Seq("k"), "d2")) === canon(v1))
    // a later snapshot extends the chain: k=2 changes again
    val v2 = Merge.scd2(v1, Seq((2, "B3", 20.0)).toDF("k", "seg", "bal")
      .unionByName(snap.filter($"k" =!= 2)), Seq("k"), "d3")
    assert(canon(v2).contains((2, "B2", 20.0, "d2", Some("d3"), false)) &&
      canon(v2).contains((2, "B3", 20.0, "d3", None, true)))
    assert(canon(v2).count(_._1 == 2) === 3, "three versions of k=2")
  }
}
