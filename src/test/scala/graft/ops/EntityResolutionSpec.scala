package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactness of the segment-blocked edit-distance join: the blocked plan
  * must return EXACTLY the brute-force cross-product result — the
  * pigeonhole guarantees no false negatives, the levenshtein verify
  * removes false positives. Randomized corpora over a small alphabet
  * (seeded) force plenty of near-miss pairs at every threshold.
  */
class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  private def randomCorpus(n: Int, seed: Long, minLen: Int = 3,
                           maxLen: Int = 9): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val alpha = "abc"
    (0 until n).map { i =>
      val len = minLen + rnd.nextInt(maxLen - minLen + 1)
      (i.toLong, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }.toDF("id", "s")
  }

  private def bruteSelf(df: DataFrame, d: Int): Set[(Long, Long, Int)] = {
    val a = df.as("a"); val b = df.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id"),
        levenshtein(col("a.s"), col("b.s")).as("dist"))
      .filter(col("dist") <= d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  private def bruteJoin(l: DataFrame, r: DataFrame, d: Int): Set[(Long, Long, Int)] = {
    l.as("a").join(r.as("b"),
        levenshtein(col("a.id2s"), col("b.s")) <= d)
      .select(col("a.id2"), col("b.id"),
        levenshtein(col("a.id2s"), col("b.s")).as("dist"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getInt(2))).toSet
  }

  test("self-join matches brute force at d=1 and d=2") {
    val df = randomCorpus(70, seed = 42).cache()
    for (d <- Seq(1, 2)) {
      val got = EntityResolution.editDistanceSelfJoin(df, "id", "s", d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = bruteSelf(df, d)
      assert(got == want, s"d=$d: blocked=${got.size} brute=${want.size}")
      assert(want.nonEmpty, s"d=$d fixture produced no pairs — test is vacuous")
    }
    df.unpersist()
  }

  test("two-relation join matches brute force across unequal lengths") {
    val left = randomCorpus(60, seed = 7, minLen = 2, maxLen = 10)
      .select(col("id").as("id2"), col("s").as("id2s")).cache()
    val right = randomCorpus(60, seed = 8, minLen = 2, maxLen = 10).cache()
    for (d <- Seq(1, 2)) {
      val got = EntityResolution.editDistanceJoin(
          left, "id2", "id2s", right, "id", "s", d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = bruteJoin(left, right, d)
      assert(got == want, s"d=$d: blocked=${got.size} brute=${want.size}")
      assert(want.nonEmpty, s"d=$d fixture produced no pairs — test is vacuous")
    }
    left.unpersist(); right.unpersist()
  }

  test("editDistanceJoinWithStrings carries the verified strings of the same pair set") {
    val left = randomCorpus(50, seed = 31, minLen = 2, maxLen = 10)
      .select(col("id").as("id2"), col("s").as("id2s")).cache()
    val right = randomCorpus(50, seed = 32, minLen = 2, maxLen = 10).cache()
    val withStrings = EntityResolution.editDistanceJoinWithStrings(
        left, "id2", "id2s", right, "id", "s", d = 1,
        leftStrOut = "ls", rightStrOut = "rs")
    assert(withStrings.columns.toSeq == Seq("id2", "id", "dist", "ls", "rs"))
    val got = withStrings.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSet
    // the strings must be exactly the joined-back corpus strings, and
    // the (pair, dist) set identical to the plain join's
    val want = EntityResolution.editDistanceJoin(
        left, "id2", "id2s", right, "id", "s", d = 1)
      .join(left, Seq("id2")).join(right, Seq("id"))
      .select(col("id2"), col("id"), col("dist"), col("id2s"), col("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSet
    assert(got == want, s"withStrings=${got.size} rejoined=${want.size}")
    assert(want.nonEmpty, "fixture produced no pairs — test is vacuous")
    left.unpersist(); right.unpersist()
  }

  test("identical strings and empty-segment edge cases") {
    val df = Seq((1L, "aa"), (2L, "aa"), (3L, "a"), (4L, "b"), (5L, ""))
      .toDF("id", "s")
    // d=1, k=2 segments: length-1 strings carry an empty first segment,
    // and the empty string's index rows are ALL empty segments at l=0 —
    // probes must include indexed length 0 (the greatest(m-d, 0) lower
    // bound) or ("", "a") pairs vanish in the id-ordered direction.
    val got = EntityResolution.editDistanceSelfJoin(df, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = bruteSelf(df, 1)
    assert(got == want, s"blocked=$got brute=$want")
    assert(want.contains((1L, 2L, 0)), "exact duplicates must pair at dist 0")
  }

  test("linkBest picks minimum distance with min-id tiebreak") {
    val dirty = Seq((10L, "abca")).toDF("did", "ds")
    val clean = Seq((1L, "abcd"), (2L, "abca"), (3L, "abcb"))
      .toDF("cid", "cs")
    val got = EntityResolution.linkBest(dirty, "did", "ds",
        clean, "cid", "cs", d = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((10L, 2L, 0)))
    // remove the exact match: now three dist-1 candidates? (1:"abcd" d1,
    // 3:"abcb" d1) — tiebreak must pick cid 1
    val got2 = EntityResolution.linkBest(dirty, "did", "ds",
        clean.filter(col("cid") =!= 2), "cid", "cs", d = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got2.toSeq == Seq((10L, 1L, 1)))
  }

  test("indexed probe equals the direct two-relation join") {
    val left = randomCorpus(50, seed = 21).select(
      col("id").as("id2"), col("s").as("id2s"))
    val right = randomCorpus(50, seed = 22)
    val idx = EntityResolution.indexSegments(right, "id", "s", 1)
      .cache()
    idx.count()
    val viaIndex = EntityResolution
      .editDistanceJoinIndexed(idx, left, "id2", "id2s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = EntityResolution
      .editDistanceJoin(left, "id2", "id2s", right, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaIndex == direct)
    assert(direct.nonEmpty, "fixture produced no pairs — test is vacuous")
    idx.unpersist()
  }

  test("clusterIds labels components with their min id, singletons keep their own") {
    // a-b-c chain (one component), d-e pair, f singleton
    val df = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "aabb"),
      (10L, "zzzz"), (11L, "zzzy"), (20L, "qqqq"))
      .toDF("id", "s")
    val got = EntityResolution.clusterIds(df, "id", "s", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "aabb" is distance 2 from "aaaa" but 1 from "aaab": transitive
    // closure must place all three in component 1
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L), s"got $got")
  }

  test("flood segment: cap trades recall loudly, never precision") {
    // every string shares a constant-prefix flood segment. A pair whose
    // edit sits in the DIVERSE half blocks only via the flood segment,
    // so capping it drops those pairs (recall); but every pair that DOES
    // survive must still be a true pair (precision) — the LSH hot-bucket
    // contract, restated for segments.
    val df = (0 until 80).map(i => (i.toLong, f"Customer#$i%03d"))
      .toDF("id", "s").cache()
    val uncapped = EntityResolution.editDistanceSelfJoin(df, "id", "s", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = bruteSelf(df, 1)
    assert(uncapped == want, "uncapped blocked join must be exact")
    assert(want.nonEmpty)
    val capped = EntityResolution.editDistanceSelfJoin(df, "id", "s", 1,
        maxBucketSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.subsetOf(want), "cap must never produce a false pair")
    assert(capped.size < want.size,
      "flood fixture should actually lose pairs under the cap — " +
        "otherwise this test exercises nothing")
    df.unpersist()
  }

  test("rescued self-join restores the recall the flood cap drops") {
    // same flood shape as above: the complement re-blocking must give
    // back EXACTLY the brute-force pair set while the cap stays armed
    val df = (0 until 80).map(i => (i.toLong, f"Customer#$i%03d"))
      .toDF("id", "s").cache()
    val want = bruteSelf(df, 1)
    val capped = EntityResolution.editDistanceSelfJoin(df, "id", "s", 1,
        maxBucketSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.size < want.size, "fixture must flood for this test")
    val rescued = EntityResolution.editDistanceSelfJoinRescued(df, "id",
        "s", 1, maxBucketSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rescued == want,
      s"rescue must restore exact recall: missing ${want -- rescued}, " +
        s"extra ${rescued -- want}")
    df.unpersist()
  }

  test("rescued two-relation join restores flood recall exactly") {
    val clean = (0 until 60).map(i => (i.toLong, f"Customer#$i%03d"))
      .toDF("cid", "cn")
    // dirty copies: one substitution in the digits (the diverse half) —
    // exactly the pairs the flooded constant-prefix segment owns
    val dirty = (0 until 60).map { i =>
      val base = f"Customer#$i%03d"
      (1000L + i, base.substring(0, 11) + 'z' + base.substring(12))
    }.toDF("did", "dn")
    val want = dirty.as("a").join(clean.as("b"),
        levenshtein(col("a.dn"), col("b.cn")) <= 1)
      .select(col("a.did"), col("b.cid"),
        levenshtein(col("a.dn"), col("b.cn")).as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty)
    val capped = EntityResolution.editDistanceJoin(dirty, "did", "dn",
        clean, "cid", "cn", d = 1, maxBucketSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.size < want.size, "fixture must flood for this test")
    val rescued = EntityResolution.editDistanceJoinRescued(dirty, "did",
        "dn", clean, "cid", "cn", d = 1, maxBucketSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rescued == want,
      s"missing ${want -- rescued}, extra ${rescued -- want}")
  }

  test("rescued downstream faces: clusters and best-match see the flood pairs") {
    // the r16 gap: er_clusters/er_link_best consumed the PLAIN capped
    // join, so a flood silently split clusters / degraded "best" to
    // "best surviving". Both rescued faces must equal the no-cap truth
    // while the cap genuinely fires.
    val df = (0 until 80).map(i => (i.toLong, f"Customer#$i%03d"))
      .toDF("id", "s").cache()
    val want = bruteSelf(df, 1)
    val capped = EntityResolution.editDistanceSelfJoin(df, "id", "s", 1,
        maxBucketSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.size < want.size, "fixture must flood for this test")
    // clusters: naive union-find over the brute pair set
    val parent = scala.collection.mutable.Map((0L until 80L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    want.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantClusters = (0L until 80L).map(i => i -> find(i)).toMap
    val gotClusters = EntityResolution.clusterIdsRescued(df, "id", "s", 1,
        maxBucketSize = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotClusters == wantClusters,
      s"diff: ${wantClusters.toSet.diff(gotClusters.toSet)}")
    // best-match: min (dist, id) per left record over the brute pairs
    val clean = df.select(col("id").as("cid"), col("s").as("cn"))
    val dirty = (0 until 80).map { i =>
      val base = f"Customer#$i%03d"
      (1000L + i, base.substring(0, 11) + 'z' + base.substring(12))
    }.toDF("did", "dn")
    val brutePairs = dirty.as("a").join(clean.as("b"),
        levenshtein(col("a.dn"), col("b.cn")) <= 1)
      .select(col("a.did"), col("b.cid"),
        levenshtein(col("a.dn"), col("b.cn")).as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val wantBest = brutePairs.groupBy(_._1).map { case (d, ps) =>
      val best = ps.minBy(p => (p._3, p._2)); d -> (best._2, best._3) }
    val gotBest = EntityResolution.linkBestRescued(dirty, "did", "dn",
        clean, "cid", "cn", d = 1, maxBucketSize = 40)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(gotBest == wantBest,
      s"diff: ${wantBest.toSet.diff(gotBest.toSet)}")
    df.unpersist()
  }

  test("rescued self-join equals the capped join when nothing floods") {
    val df = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "bbbb"), (4L, "bbbc"),
      (5L, "cdef")).toDF("id", "s")
    val plain = EntityResolution.editDistanceSelfJoin(df, "id", "s", 1,
        maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rescued = EntityResolution.editDistanceSelfJoinRescued(df, "id",
        "s", 1, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rescued == plain && plain == bruteSelf(df, 1))
    // the two-relation faces, on the same no-flood shape
    val left = Seq((10L, "aaab"), (11L, "bbbd"), (12L, "zzzz"))
      .toDF("id2", "id2s")
    val plainJoin = EntityResolution.editDistanceJoin(left, "id2", "id2s",
        df, "id", "s", d = 1, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rescuedJoin = EntityResolution.editDistanceJoinRescued(left, "id2",
        "id2s", df, "id", "s", d = 1, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rescuedJoin == plainJoin && plainJoin == bruteJoin(left, df, 1))
    assert(plainJoin.nonEmpty, "fixture produced no pairs — test is vacuous")
  }

  test("rescued faces leave only their returned checkpoint persisted") {
    // the rescue persists its key relations, complements and deletion
    // neighborhoods; once the pairs are checkpointed all of them must be
    // released. The caps' own checkpoints are unreachable by then and
    // free through the ContextCleaner, hence the collections.
    val df = (0 until 80).map(i => (i.toLong, f"Customer#$i%03d"))
      .toDF("id", "s").cache()
    df.count()
    val dirty = df.select(col("id").plus(1000L).as("did"),
      regexp_replace(col("s"), "#0", "#z").as("dn"))
    def settled(pairs: => DataFrame): DataFrame = {
      val out = pairs
      assert(out.count() > 0, "fixture produced no pairs — test is vacuous")
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
      out
    }
    val (_, self) = persistedBy(settled(EntityResolution
      .editDistanceSelfJoinRescued(df, "id", "s", 1, maxBucketSize = 40)))
    assert(self <= 1, s"self face left $self RDDs persisted")
    val (_, pair) = persistedBy(settled(EntityResolution
      .editDistanceJoinRescued(dirty, "did", "dn", df, "id", "s", 1,
        maxBucketSize = 40)))
    assert(pair <= 1, s"two-relation face left $pair RDDs persisted")
    df.unpersist()
  }
}
