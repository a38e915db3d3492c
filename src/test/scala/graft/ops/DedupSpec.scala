package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different words entirely here now today"),
    (5L, "ab") // < 3 tokens: excluded from shingle-based sketches
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps the lowest id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    assert(out.length == 4) // 5 docs, one exact pair
    val dupGroup = out.find(_._3 == 2).get
    assert(dupGroup._2 == 1L) // keeper is the min doc_id
    assert(out.count(_._3 == 1) == 3)
  }

  test("exactKeepFirst returns the surviving rows themselves") {
    val kept = Dedup.exactKeepFirst(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L)) // doc 2 deduped away
  }

  test("hash sampling is deterministic, disjoint with its complement") {
    val ids = (1L to 1000L).toDF("doc_id")
    val in = Dedup.hashSample(ids, "doc_id", 20).as[Long].collect().toSet
    val again = Dedup.hashSample(ids, "doc_id", 20).as[Long].collect().toSet
    assert(in == again)
    // roughly 20% (md5 is uniform), and exact split with the complement
    assert(in.size > 130 && in.size < 270)
    val out = ids.except(Dedup.hashSample(ids, "doc_id", 20)).as[Long].collect().toSet
    assert((in & out).isEmpty && in.size + out.size == 1000)
  }

  test("minhash sketch: identical docs get identical signatures; short docs drop out") {
    val sk = Dedup.minhashSketch(docs, "doc_id", "text", 3, 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    assert(sk.keySet == Set(1L, 2L, 3L, 4L)) // doc 5 has < 3 tokens
    assert(sk(1L) == sk(2L))
    assert(sk(1L) != sk(4L))
    // signature values live in the universal-hash range [0, p)
    sk.values.flatten.foreach(v => assert(v >= 0 && v < Dedup.MinhashPrime))
    // near-dup shares most minhashes (Jaccard ~0.78 over shingles)
    assert(sk(1L).zip(sk(3L)).count { case (a, b) => a == b } >= 8)
  }

  test("LSH candidate pairs find exact+near dups, never self/reversed pairs") {
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(pairs.forall { case (a, b) => a < b })
    assert(!pairs.exists { case (a, b) => a == b })
  }

  test("fuzzy dedup verifies candidates with exact Jaccard at the threshold") {
    val out = Dedup.fuzzy(docs, "doc_id", 16, 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val exact = out.find(r => r._1 == 1L && r._2 == 2L).get
    assert(exact._3 == 1.0) // identical shingle sets
    out.foreach(r => assert(r._3 >= 0.5 && r._3 <= 1.0))
    // the unrelated doc 4 must not survive verification against 1/2/3
    assert(!out.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("fuzzy dedup on the fixture corpus finds the planted near-dup pairs") {
    val out = Dedup.fuzzy(Tables.documents(spark, sf0001), "doc_id", 16, 4, 0.5)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 28) // planted pairs (measured against DuckDB)
    assert(out.forall(_._3 >= 0.5))
    assert(out.count(_._3 > 0.9) >= 20) // the bulk sit at Jaccard ~0.98
  }

  test("incremental LSH candidates = full candidates restricted to the batch") {
    val corpus = Tables.documents(spark, sf0001)
    val batch = corpus.filter(Dedup.hashBucket(col("doc_id")) < 20)
    val rest = corpus.filter(Dedup.hashBucket(col("doc_id")) >= 20)
    val inc = Dedup.incrementalLshCandidates(rest, batch, "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val full = Dedup.lshCandidatePairs(corpus, "doc_id", 16, 4)
      .as[(Long, Long)].collect()
      .filter(p => batchIds(p._1) || batchIds(p._2)).toSet
    assert(inc == full)
    assert(inc.forall { case (a, b) => a < b })
  }

  test("stratified sample: per-group quota, deterministic, subset of input") {
    val docs = Tables.documents(spark, sf0001)
    val s1 = Dedup.stratifiedSample(docs, "lang", "doc_id", 5)
      .select("lang", "doc_id").as[(String, Long)].collect()
    val s2 = Dedup.stratifiedSample(docs, "lang", "doc_id", 5)
      .select("lang", "doc_id").as[(String, Long)].collect()
    assert(s1.sorted.toSeq == s2.sorted.toSeq)
    val perGroup = s1.groupBy(_._1).view.mapValues(_.length)
    assert(perGroup.values.forall(_ <= 5))
    val langs = docs.select("lang").distinct().as[String].collect()
    assert(perGroup.keySet == langs.toSet) // every stratum represented
  }

  test("cluster resolution composes with simhash pairs (other sketch family)") {
    val pairs = Dedup.simhashPairs(
      Dedup.simhash(docs, "doc_id", "text"), maxHamming = 3)
    val out = Dedup.resolveClusters(pairs).as[(Long, Long)].collect().toMap
    // identical docs 1/2 are hamming-0 — one cluster with keeper 1
    assert(out(1L) == 1L && out(2L) == 1L)
    // every label is a member of the pair graph and <= its node
    assert(out.forall { case (n, l) => l <= n && out.contains(l) })
  }

  test("cluster resolution: chains collapse to the min id, converges") {
    // A~B, B~C (a chain — NOT a clique) plus an independent pair D~E:
    // min-label propagation must converge across the chain hop
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.resolveClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("cluster resolution converges on a long chain (diameter > 2 rounds)") {
    val chain = (1L until 12L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val out = Dedup.resolveClusters(chain).as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1L))
    assert(out.keySet == (1L to 12L).toSet)
  }

  test("fuzzyKeepFirst drops every non-keeper cluster member, keeps the rest") {
    val pairs = Dedup.fuzzy(docs, "doc_id", 16, 4, threshold = 0.5)
    val kept = Dedup.fuzzyKeepFirst(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // docs 1/2/3 form one near-dup cluster (keeper 1); 4 and 5 untouched
    assert(kept == Seq(1L, 4L, 5L))
  }

  test("simhash: identical docs agree, near-dups are close, unrelated far") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(hamming(sh(1L), sh(2L)) == 0)
    assert(hamming(sh(1L), sh(3L)) <= 16)
    assert(hamming(sh(1L), sh(4L)) > 16)
    // 32-bit halves: values stay in unsigned-int range
    sh.values.foreach { case (hi, lo) =>
      assert(hi >= 0 && hi <= 0xffffffffL && lo >= 0 && lo <= 0xffffffffL)
    }
  }

  test("simhash banding returns exactly the pairs within maxHamming") {
    val sketches = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sketches, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    pairs.foreach(p => assert(p._3 <= 3))
  }

  test("exactIncremental drops already-ingested content, keeps first in batch") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen before"),   // already in corpus: dropped
      (11L, "brand new"),
      (12L, "brand new"),     // batch-internal dup of 11: dropped
      (13L, "another new")).toDF("doc_id", "text")
    val kept = Dedup.exactIncremental(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(11L, 13L))
    // an empty corpus reduces to plain exact keep-first over the batch
    val cold = Dedup.exactIncremental(batch,
      corpus.filter(lit(false)), "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(cold == Seq(10L, 11L, 13L))
  }

  test("token-budget sample equals the naive global running sum") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StringType
    val df = (1L to 500L).map(i => (i, (i * 37 % 91 + 10).toInt))
      .toDF("doc_id", "n_chars")
    val budget = 8000L
    val got = Dedup.tokenBudgetSample(df, "doc_id", "n_chars", budget)
      .as[(Long, Int, Long)].collect().sortBy(_._1)

    // naive single-window reference over the same deterministic order
    val wAll = Window
      .orderBy(Dedup.hashBucket(col("doc_id")),
        md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .withColumn("cum_before",
        coalesce(sum(col("n_chars")).over(wAll), lit(0L)))
      .filter(col("cum_before") < budget)
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty && got.length < 500)
    // the crossing document is KEPT: kept mass may exceed the budget, but
    // removing its last element must bring it back under
    val keptMass = got.map(_._2.toLong).sum
    val lastLen = got.maxBy(_._3)._2
    assert(keptMass >= budget && keptMass - lastLen < budget)
    // degenerate budgets: zero keeps nothing, huge keeps everything
    assert(Dedup.tokenBudgetSample(df, "doc_id", "n_chars", 0L).isEmpty)
    assert(Dedup.tokenBudgetSample(df, "doc_id", "n_chars", 1L << 40)
      .count() == 500)
  }

  test("per-group token budget equals the naive per-group window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StringType
    val df = (1L to 400L)
      .map(i => (s"g${i % 5}", i, (i * 41 % 83 + 10).toInt))
      .toDF("grp", "doc_id", "n_chars")
    val budgets = Seq(("g0", 3000L), ("g1", 1000L), ("g2", 0L),
      ("g3", 1L << 40), ("g4", 2000L)).toDF("grp", "budget")
    val got = Dedup.tokenBudgetSampleBy(df, "doc_id", "n_chars", "grp", budgets)
      .as[(String, Long, Int, Long)].collect().sortBy(_._2)

    val wAll = Window.partitionBy(col("grp"))
      .orderBy(Dedup.hashBucket(col("doc_id")),
        md5(col("doc_id").cast(StringType)), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bmap = Map("g0" -> 3000L, "g1" -> 1000L, "g2" -> 0L,
      "g3" -> (1L << 40), "g4" -> 2000L)
    val want = df
      .withColumn("cum_before",
        coalesce(sum(col("n_chars")).over(wAll), lit(0L)))
      .as[(String, Long, Int, Long)].collect()
      .filter { case (g, _, _, cum) => cum < bmap(g) }.sortBy(_._2)
    assert(got.toSeq == want.toSeq)
    // per-group contracts: zero-budget group empty, unlimited group full
    val byGrp = got.groupBy(_._1)
    assert(!byGrp.contains("g2"))
    assert(byGrp("g3").length == 80)
    // every kept row is under ITS group's budget
    got.foreach { case (g, _, _, cum) => assert(cum < bmap(g)) }
    // duplicate budget rows collapse deterministically (max wins)
    val dup = budgets.union(Seq(("g1", 500L)).toDF("grp", "budget"))
    val gotDup = Dedup.tokenBudgetSampleBy(df, "doc_id", "n_chars", "grp", dup)
      .as[(String, Long, Int, Long)].collect().sortBy(_._2)
    assert(gotDup.toSeq == got.toSeq)
  }

  test("weightedTopNSample: exact size, no replacement, deterministic, zero-weight excluded") {
    val df = (1L to 100L).map { i =>
      (i, if (i <= 50) "g1" else "g2", if (i % 10 == 0) 0L else i)
    }.toDF("doc_id", "grp", "w")
    def run() = Dedup.weightedTopNSample(df, "doc_id", "grp", "w", n = 7)
      .select("grp", "doc_id").as[(String, Long)].collect().toSeq.sorted
    val out = run()
    // exactly n per group, sampled without replacement
    assert(out.count(_._1 == "g1") == 7 && out.count(_._1 == "g2") == 7)
    assert(out.distinct.size == out.size)
    // zero-weight rows can never be drawn
    assert(out.forall(_._2 % 10 != 0))
    // no RNG: reruns are identical
    assert(run() == out)
    // a group smaller than n returns all its positive-weight rows
    val tiny = Seq((1L, "g", 5L), (2L, "g", 0L), (3L, "g", 9L))
      .toDF("doc_id", "grp", "w")
    val got = Dedup.weightedTopNSample(tiny, "doc_id", "grp", "w", n = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
  }

  test("fuzzyKeepBest keeps the highest-scored cluster member, ties on id") {
    val d = Seq(
      (1L, "a", 10L), (2L, "b", 50L), (3L, "c", 30L), // cluster {1,2,3}
      (4L, "d", 5L),                                  // untouched singleton
      (5L, "e", 7L), (6L, "f", 7L)                    // tied cluster {5,6}
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.fuzzyKeepBest(d, pairs, "doc_id", col("n_chars"))
      .select("doc_id").as[Long].collect().toSet
    // 2 wins its cluster on score; 5 wins the tied cluster on id; 4 is
    // outside every pair and survives untouched
    assert(kept == Set(2L, 4L, 5L))
    // contrast with keep-first, which would have kept 1 (lowest id)
    val first = Dedup.fuzzyKeepFirst(d, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(1L, 4L, 5L))
  }

  test("containment flags the embedded quote that jaccard misses") {
    import spark.implicits._
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val short = (20 to 29).map(i => s"w$i").mkString(" ") // pure quote
    val near = long + " tail" // symmetric near-dup of the long doc
    val docs = Seq((1L, long), (2L, short), (3L, near)).toDF("doc_id", "text")
    // all-pairs candidates: the op under test is the verifier
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.containmentPairs(docs, cand, "doc_id", k = 3,
      threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getInt(5))).toMap
    // the quote: fully contained, low jaccard -> quote_like
    val q = out((1L, 2L))
    assert(q._3 == 1.0 && q._1 < 0.5 && q._4 == 1)
    // the symmetric near-dup: high jaccard -> NOT quote_like
    val n = out((1L, 3L))
    assert(n._1 > 0.9 && n._4 == 0)
    // unrelated-enough pair below the containment threshold is absent
    // (short vs near IS contained too — both contain the quote window)
    assert(out.contains((2L, 3L)) && out((2L, 3L))._4 == 1)
  }

  test("anchor blocking catches the quote pair banded LSH misses") {
    import spark.implicits._
    // quote = a 10-word window of a 60-word doc: jaccard ~0.15, far
    // below any 16/4 banding's reach — the bottom-k anchor argument is
    // exactly for this shape
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val short = (25 to 34).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, long), (2L, short)).toDF("doc_id", "text")
    val anchored = Dedup.anchorCandidatePairs(docs, "doc_id", nAnchors = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(anchored.contains((1L, 2L)))
    // a disjoint doc never pairs
    val three = docs.unionByName(
      Seq((3L, (100 to 140).map(i => s"z$i").mkString(" ")))
        .toDF("doc_id", "text"))
    val a3 = Dedup.anchorCandidatePairs(three, "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!a3.exists(p => p._1 == 3L || p._2 == 3L))
    // the hot-bucket cap drops a flooded anchor LOUDLY (pair set shrinks)
    val flood = (10L to 40L).map(i => (i, "common phrase here " + i))
      .toDF("doc_id", "text")
    val uncapped = Dedup.anchorCandidatePairs(flood, "doc_id", 8).count()
    val capped = Dedup.anchorCandidatePairs(flood, "doc_id", 8,
      maxBucketSize = 5).count()
    assert(capped < uncapped)
  }

  test("setSimilarityPairs equals the brute-force word-set jaccard join") {
    // diverse word universes with planted overlaps at, above and below
    // the threshold (incl. the exact boundary), repeated words (set
    // semantics), and an empty doc
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),     // jac(1,2)=3/5=0.6
      (3L, "alpha beta zeta eta theta"),    // jac(1,3)=2/7
      (4L, "alpha beta gamma delta"),       // exact dup of 1 -> jac 1.0
      (5L, "iota kappa lambda"),
      (6L, "iota kappa lambda mu nu xi"),   // jac(5,6)=3/6=0.5 boundary
      (7L, "alpha alpha beta beta gamma gamma delta"), // set == doc 1
      (8L, "")
    ).toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long, Double)] = {
      val tok = docs.collect().map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSet).toMap
      (for {
        a <- tok.keys; b <- tok.keys if a < b
        ia = tok(a); ib = tok(b) if ia.nonEmpty && ib.nonEmpty
        j = ia.intersect(ib).size.toDouble / ia.union(ib).size
        if j >= t
      } yield (a, b, math.round(j * 1e6) / 1e6)).toSet
    }
    // k = 1 -> word-set mode, so the hand brute force stays word-based;
    // 0.6/0.9 also exercise the float-ceil back-off in the prefix length
    for (t <- Seq(0.5, 0.6, 0.9)) {
      val got = Dedup.setSimilarityPairs(docs, "doc_id", t, k = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == brute(t), s"threshold $t: got $got want ${brute(t)}")
    }
  }

  test("incremental set-similarity equals the full join restricted to the batch") {
    // overlapping word universes split old/new; the incremental result
    // must be exactly the full self-join minus old-old pairs, under the
    // PINNED corpus-only vocabulary order (any total order is
    // lemma-valid — including for batch tokens the corpus never saw)
    val old = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "iota kappa lambda"),
      (4L, "rho sigma tau upsilon")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "alpha beta gamma delta"),          // dup of old 1
      (12L, "iota kappa lambda mu nu xi"),      // 0.5 vs old 3
      (13L, "brandnew words only here"),        // unseen tokens
      (14L, "brandnew words only here too")     // 0.8 vs 13
    ).toDF("doc_id", "text")
    val all = old.unionByName(batch)
    val full = Dedup.setSimilarityPairs(all, "doc_id", 0.5, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oldIds = Set(1L, 2L, 3L, 4L)
    val want = full.filterNot(p => oldIds(p._1) && oldIds(p._2))
    assert(want.nonEmpty && want.size < full.size)
    val got = Dedup.setSimilarityIncremental(old, batch, "doc_id", 0.5,
        k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    // the weighted face over the same split
    def triples(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val wFull = triples(Dedup.weightedSetSimilarityPairs(all, "doc_id", 0.5))
    val wWant = wFull.filterNot(p => oldIds(p._1) && oldIds(p._2))
    assert(wWant.nonEmpty && wWant.size < wFull.size)
    val wGot = triples(
      Dedup.weightedSetSimilarityIncremental(old, batch, "doc_id", 0.5))
    assert(wGot == wWant, s"weighted: missing ${wWant -- wGot}, " +
      s"extra ${wGot -- wWant}")
  }

  test("containmentSelfPairs equals the brute-force containment join") {
    // word mode (k = 1): full containment (2 in 1), partial overlaps
    // at/above/below threshold, a boundary pair, and an empty doc
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "c d e"),                  // cont(2 in 1) = 1.0, jac 3/8
      (3L, "x y z q"),
      (4L, "x y"),                    // cont(4 in 3) = 1.0
      (5L, "a b x y"),                // cont: 2/4 vs each of 1, 3
      (6L, "c d e q r s"),            // cont(2 in 6) = 1.0 too
      (7L, "")
    ).toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long, Double, Double, Double, Int)] = {
      val tok = docs.collect().map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSet).toMap
      def r6(x: Double) = math.round(x * 1e6) / 1e6
      (for {
        a <- tok.keys; b <- tok.keys if a < b
        ia = tok(a); ib = tok(b) if ia.nonEmpty && ib.nonEmpty
        inter = ia.intersect(ib).size.toDouble
        ca = inter / ia.size; cb = inter / ib.size
        jac = inter / ia.union(ib).size
        if math.max(ca, cb) >= t
      } yield (a, b, r6(jac), r6(ca), r6(cb),
        if (math.max(ca, cb) >= 0.8 && jac < 0.5) 1 else 0)).toSet
    }
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val got = Dedup.containmentSelfPairs(docs, "doc_id", t, k = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getInt(5))).toSet
      assert(got == brute(t),
        s"t=$t: missing ${brute(t) -- got}, extra ${got -- brute(t)}")
    }
  }

  test("weightedSetSimilarityPairs equals the brute-force multiset jaccard") {
    // repetition-sensitive: docs 1/2 share words but differ in COUNTS;
    // 3-vs-1 sits exactly on the 0.5 boundary; 4/5 are exact multiset
    // dups; 6 is empty; 7 repeats one word many times (the spam shape
    // set-jaccard cannot see)
    val docs = Seq(
      (1L, "spam spam spam ham"),
      (2L, "spam spam ham ham"),   // m=3, max-sum=5 -> 0.6
      (3L, "spam ham"),            // vs 1: m=2, max-sum=4 -> 0.5
      (4L, "eggs eggs eggs"),
      (5L, "eggs eggs eggs"),      // 1.0
      (6L, ""),
      (7L, "spam spam spam spam spam spam spam spam")
    ).toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long, Double)] = {
      val tok = docs.collect().map { r =>
        r.getLong(0) -> r.getString(1).toLowerCase.split(" ")
          .filter(_.nonEmpty).groupBy(identity).map { case (w, a) => w -> a.length }
      }.toMap
      (for {
        a <- tok.keys; b <- tok.keys if a < b
        ta = tok(a); tb = tok(b) if ta.nonEmpty && tb.nonEmpty
        keys = ta.keySet ++ tb.keySet
        m = keys.toSeq.map(w => math.min(ta.getOrElse(w, 0), tb.getOrElse(w, 0))).sum
        mx = keys.toSeq.map(w => math.max(ta.getOrElse(w, 0), tb.getOrElse(w, 0))).sum
        j = m.toDouble / mx
        if j >= t
      } yield (a, b, math.round(j * 1e6) / 1e6)).toSet
    }
    for (t <- Seq(0.5, 0.6, 0.9)) {
      val got = Dedup.weightedSetSimilarityPairs(docs, "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(got == brute(t), s"t=$t: got $got want ${brute(t)}")
    }
  }

  test("weightedContainmentPairs equals the brute-force multiset containment") {
    // the templated-spam shape SET containment gets wrong: doc 2
    // repeats the boilerplate 4x; set semantics call it contained in 1
    // after ONE occurrence (cont_set = 1.0), weighted demands coverage
    // (wcont(2 in 1) = (1+1)/8 = 0.25 — correctly NOT contained)
    val docs = Seq(
      (1L, "spam ham eggs chips"),
      (2L, "spam spam spam spam ham ham ham ham"),
      (3L, "spam ham"),               // wcont(3 in 1) = 2/2 = 1.0
      (4L, "spam spam ham ham"),      // wcont(4 in 2) = 4/4 = 1.0
      (5L, "")
    ).toDF("doc_id", "text")
    def brute(t: Double): Set[(Long, Long, Double, Double, Double)] = {
      val tok = docs.collect().map { r =>
        r.getLong(0) -> r.getString(1).toLowerCase.split(" ")
          .filter(_.nonEmpty).groupBy(identity)
          .map { case (w, a) => w -> a.length }
      }.toMap
      def r6(x: Double) = math.round(x * 1e6) / 1e6
      (for {
        a <- tok.keys; b <- tok.keys if a < b
        ta = tok(a); tb = tok(b) if ta.nonEmpty && tb.nonEmpty
        keys = ta.keySet ++ tb.keySet
        m = keys.toSeq.map(w => math.min(ta.getOrElse(w, 0), tb.getOrElse(w, 0))).sum
        sa = ta.values.sum; sb = tb.values.sum
        ca = m.toDouble / sa; cb = m.toDouble / sb
        jw = m.toDouble / (sa + sb - m)
        if math.max(ca, cb) >= t
      } yield (a, b, r6(jw), r6(ca), r6(cb))).toSet
    }
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val got = Dedup.weightedContainmentPairs(docs, "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).toSet
      assert(got == brute(t),
        s"t=$t: missing ${brute(t) -- got}, extra ${got -- brute(t)}")
    }
    // the headline: doc 2's SET {spam, ham} is fully inside doc 1
    // (set-containment 1.0 — it would pair at ANY threshold), but its
    // REPETITION is only quarter-covered: wcont(2 in 1) = 2/8 = 0.25,
    // and the pair's weighted max is 0.5 (doc 1's side), so at t=0.8
    // the weighted join correctly refuses the pair
    assert(!brute(0.8).exists(p => p._1 == 1L && p._2 == 2L))
    assert(brute(0.5).exists(p =>
      p._1 == 1L && p._2 == 2L && p._5 == 0.25))
  }

  test("incremental containment equals the full join restricted to the batch") {
    // either side of a cross pair can be the CONTAINED one: old 2 is
    // contained in new 11 (old-contained-in-new, the second blocking
    // leg) and new 12 in old 1 (new-contained-in-old, the first);
    // 13/14 are a new-new containment; unseen tokens order first
    val old = Seq(
      (1L, "a b c d e f g h"),
      (2L, "c d e"),
      (3L, "x y z q")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "c d e q r s t u"),        // contains old 2
      (12L, "f g h"),                  // contained in old 1
      (13L, "brand new tokens here"),
      (14L, "brand new")               // contained in 13
    ).toDF("doc_id", "text")
    val all = old.unionByName(batch)
    val full = Dedup.containmentSelfPairs(all, "doc_id", 0.5, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getInt(5))).toSet
    val oldIds = Set(1L, 2L, 3L)
    val want = full.filterNot(p => oldIds(p._1) && oldIds(p._2))
    assert(want.nonEmpty && want.size < full.size)
    assert(want.exists(p => p._1 == 2L && p._2 == 11L), "old-in-new leg")
    assert(want.exists(p => p._1 == 1L && p._2 == 12L), "new-in-old leg")
    assert(want.exists(p => p._1 == 13L && p._2 == 14L), "new-new pair")
    val got = Dedup.containmentIncremental(old, batch, "doc_id", 0.5,
        k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getInt(5))).toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    // the weighted face over the same split
    def rows5(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val wFull = rows5(Dedup.weightedContainmentPairs(all, "doc_id", 0.5))
    val wWant = wFull.filterNot(p => oldIds(p._1) && oldIds(p._2))
    assert(wWant.nonEmpty && wWant.size < wFull.size)
    assert(wWant.exists(p => p._1 == 2L && p._2 == 11L), "weighted old-in-new")
    assert(wWant.exists(p => p._1 == 1L && p._2 == 12L), "weighted new-in-old")
    val wGot = rows5(
      Dedup.weightedContainmentIncremental(old, batch, "doc_id", 0.5))
    assert(wGot == wWant, s"weighted: missing ${wWant -- wGot}, " +
      s"extra ${wGot -- wWant}")
  }

  test("setSimilarityPairs cap drops the frequent-word flood loudly, never precision") {
    // every doc is two frequent words plus a unique one: at t=0.5 the
    // frequent pair lands in every prefix and floods its buckets
    val docs = (1L to 30L).map(i => (i, s"common words unique$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.setSimilarityPairs(docs, "doc_id", 0.5, k = 1)
    // jac of any two = 2/4 = 0.5 -> all 435 pairs are true pairs
    assert(uncapped.count() == 435)
    val capped = Dedup.setSimilarityPairs(docs, "doc_id", 0.5, k = 1,
      maxBucketSize = 10)
    val cs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cs.size < 435, "cap should drop the flood")
    assert(cs.forall { case (a, b) => a < b }, "surviving pairs well-formed")
    // the weighted faces under the same flood: every doc is a tf-1
    // multiset, so all 435 pairs are true pairs for both measures
    type Face = (org.apache.spark.sql.DataFrame, String, Double, String,
      Int, Int) => org.apache.spark.sql.DataFrame
    for ((name, face) <- Seq[(String, Face)](
        "weightedSetSimilarityPairs" -> (Dedup.weightedSetSimilarityPairs _),
        "weightedContainmentPairs" -> (Dedup.weightedContainmentPairs _))) {
      assert(face(docs, "doc_id", 0.5, "text", 1, 0).count() == 435, name)
      val wcs = face(docs, "doc_id", 0.5, "text", 1, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wcs.size < 435, s"$name: cap should drop the flood")
      assert(wcs.forall { case (a, b) => a < b },
        s"$name: surviving pairs well-formed")
    }
  }

  test("lshCapAudit quantifies exactly what the hot-bucket cap drops") {
    // a 30-member near-identical flood (same text -> same sketch ->
    // same bucket in every band) + 3 distinct singletons
    val flood = (100L until 130L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
    val singles = Seq(
      (1L, "completely different words entirely here now today"),
      (2L, "another unrelated document with its own vocabulary set"),
      (3L, "third standalone text sharing nothing with the others"))
    val corpus = (flood ++ singles).toDF("doc_id", "text")

    val a = Dedup.lshCapAudit(corpus, "doc_id", numHashes = 16,
      bands = 4, cap = 10).collect().head
    assert(a.getInt(0) == 10)
    // the flood owns one bucket per band (4 hot buckets of 30 rows);
    // every flood member - and no singleton - loses detection
    assert(a.getLong(2) == 4L, s"hot buckets: ${a.getLong(2)}")
    assert(a.getLong(3) == 120L, s"band rows dropped: ${a.getLong(3)}")
    assert(a.getLong(4) == 30L, s"docs affected: ${a.getLong(4)}")
    assert(a.getLong(1) >= 4L + 4L) // flood buckets + singleton buckets

    // a cap above the flood size drops nothing
    val b = Dedup.lshCapAudit(corpus, "doc_id", 16, 4, cap = 64)
      .collect().head
    assert(b.getLong(2) == 0L && b.getLong(3) == 0L && b.getLong(4) == 0L)

    // the audit agrees with what fuzzy() actually loses under the cap:
    // capped pair count + the flood's internal pairs = uncapped count
    val uncapped = Dedup.fuzzy(corpus, "doc_id", 16, 4, 0.5).count()
    val capped = Dedup.fuzzy(corpus, "doc_id", 16, 4, 0.5,
      maxBucketSize = 10).count()
    assert(uncapped - capped == 30L * 29 / 2,
      s"uncapped=$uncapped capped=$capped")
  }

  test("capBuckets prunes MANY distinct hot buckets (bounded driver audit)") {
    // r21 (VERDICT r20 task 6): the hot key set stays distributed and the
    // driver pulls one aggregate row — this fixture's 200 distinct hot
    // buckets all still get pruned, exactly as the collected version did,
    // while a pathological million-hot-bucket corpus can no longer
    // driver-OOM the audit.
    val rows =
      (0 until 200).flatMap(b => (0 until 4).map(i => (s"hot$b", i.toLong))) ++
        (0 until 50).map(b => (s"cool$b", 0L))
    val banded = rows.toDF("sig", "doc_id").withColumn("band", lit(0))
    val pruned = Dedup.capBuckets(banded, Seq("band", "sig"), cap = 3, "spec")
    assert(pruned.count() == 50L) // every hot member dropped, cool kept
    assert(pruned.filter(col("sig").startsWith("hot")).count() == 0L)
    // cap <= 0 disables the guard entirely
    assert(Dedup.capBuckets(banded, Seq("band", "sig"), 0, "spec")
      .count() == rows.size.toLong)
  }
}
