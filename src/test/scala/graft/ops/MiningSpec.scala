package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Session-5 mining operators: market-basket (Apriori pairs / rules /
  * cosine), KMV sketches, incremental aggregate maintenance, and
  * degree-ordered triangle counting — each checked against a
  * brute-force restatement on fixtures small enough to enumerate.
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  // ---- market basket -------------------------------------------------

  private def basketDf(rows: (Long, Long)*) = rows.toDF("basket", "item")

  test("frequentPairs equals the brute-force pair count with closure") {
    // baskets: 1:{1,2,3} 2:{1,2} 3:{1,2,4} 4:{3,4} 5:{1}
    val b = basketDf(1L -> 1L, 1L -> 2L, 1L -> 3L, 2L -> 1L, 2L -> 2L,
      3L -> 1L, 3L -> 2L, 3L -> 4L, 4L -> 3L, 4L -> 4L, 5L -> 1L)
    val out = MarketBasket.frequentPairs(b, "basket", "item", minSupport = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // brute force: co-counts over all pairs, threshold 2
    // supports: 1->4, 2->3, 3->2, 4->2
    // pairs co>=2: (1,2)->3, (1,3)? co=1 no, (3,4)? co=2? baskets {1? no
    // 3 has items 1,2,4; 4 has 3,4} -> (3,4) co=1; (1,4)? baskets {3}=1;
    // (2,4) co=1. So only (1,2).
    assert(out == Map((1L, 2L) -> ((4L, 3L, 3L))))
  }

  test("duplicate memberships collapse before counting") {
    val b = basketDf(1L -> 1L, 1L -> 1L, 1L -> 2L, 2L -> 1L, 2L -> 2L)
    val out = MarketBasket.frequentPairs(b, "basket", "item", 2).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(2) == 2 && r.getLong(3) == 2 && r.getLong(4) == 2)
  }

  test("mega-basket cap drops the basket and the audit reports it") {
    // basket 9 holds 6 items; cap at 5 -> none of its pairs survive
    val mega = (1L to 6L).map(i => 9L -> i)
    val b = basketDf(mega ++ Seq(1L -> 1L, 1L -> 2L, 2L -> 1L, 2L -> 2L): _*)
    val capped = MarketBasket.frequentPairs(b, "basket", "item", 2,
      maxBasketSize = 5)
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L)))
    val audit = MarketBasket.basketSizeAudit(b, "basket", "item", 5).collect()
    assert(audit.length == 1 && audit.head.getLong(0) == 9L &&
      audit.head.getLong(1) == 6L)
    // without the cap the mega-basket's pairs count
    val uncapped = MarketBasket.frequentPairs(b, "basket", "item", 1)
    assert(uncapped.count() > 1)
  }

  test("association rules carry exact support/confidence/lift both ways") {
    val b = basketDf(1L -> 1L, 1L -> 2L, 2L -> 1L, 2L -> 2L, 3L -> 1L)
    val rules = MarketBasket.associationRules(b, "basket", "item", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    // n_baskets=3, n(1)=3, n(2)=2, co=2
    // 1=>2: support 2/3, conf 2/3, lift 2*3/(3*2)=1.0
    assert(rules((1L, 2L)) == ((0.666667, 0.666667, 1.0)))
    // 2=>1: conf 2/2 = 1.0
    assert(rules((2L, 1L)) == ((0.666667, 1.0, 1.0)))
  }

  test("itemNeighbors ranks by cosine with neighbor-id tiebreak") {
    // item 1 pairs with 2 (co=2) and 3 (co=2); n(2)=n(3)=2 -> tie on
    // cosine, neighbor id 2 must rank first
    val b = basketDf(1L -> 1L, 1L -> 2L, 2L -> 1L, 2L -> 2L,
      3L -> 1L, 3L -> 3L, 4L -> 1L, 4L -> 3L)
    val nb = MarketBasket.itemNeighbors(b, "basket", "item", 2, k = 2)
      .filter(col("item") === 1L).orderBy(col("rk")).collect()
    assert(nb.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(nb.map(_.getInt(4)).toSeq == Seq(1, 2))
  }

  // ---- KMV sketch ----------------------------------------------------

  test("sketch below k holds the whole distinct set and is exact") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 7L))
      .toDF("slice", "key")
    val sk = Kmv.sketch(df, "slice", "key", k = 64)
    assert(sk.filter(col("slice") === "a").count() == 2)
    val est = Kmv.distinctEstimate(sk, 64).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(est("a") == ((2L, 2.0)) && est("b") == ((1L, 1.0)))
  }

  test("sketch keeps exactly the k smallest hashes, repartition-stable") {
    val df = (1L to 5000L).map(i => ("s", i)).toDF("slice", "key")
    val k = 64
    val sk1 = Kmv.sketch(df, "slice", "key", k).orderBy("pos")
      .collect().map(_.getLong(2)).toSeq
    val sk2 = Kmv.sketch(df.repartition(7), "slice", "key", k).orderBy("pos")
      .collect().map(_.getLong(2)).toSeq
    assert(sk1 == sk2 && sk1.length == k && sk1 == sk1.sorted)
    // the deterministic estimate on this fixture lands 5.5% high
    // (~0.4σ of the 1/sqrt(k-2) KMV bound); assert a 3σ envelope
    val est = Kmv.distinctEstimate(Kmv.sketch(df, "slice", "key", k), k)
      .collect().head.getDouble(2)
    assert(math.abs(est - 5000.0) / 5000.0 < 3.0 / math.sqrt(k - 2.0))
  }

  test("overlap estimate is exact when both slices fit in the sketch") {
    // A = 1..30, B = 21..50: |A∩B| = 10, |A∪B| = 50, J = 0.2; with
    // k=64 > 50 the merged sketch IS the union -> exact arithmetic
    val df = ((1L to 30L).map(i => ("A", i)) ++ (21L to 50L).map(i => ("B", i)))
      .toDF("slice", "key")
    val sk = Kmv.sketch(df, "slice", "key", k = 64)
    val r = Kmv.overlapEstimate(sk, "A", "B", 64).collect().head
    assert(r.getLong(2) == 10L)
    assert(r.getDouble(3) == 0.2 && r.getDouble(4) == 10.0)
  }

  // ---- incremental view maintenance ----------------------------------

  test("merged partials equal the full recompute for any split/order") {
    val full = Seq(("x", 1.0), ("x", 2.5), ("y", -1.0), ("x", 4.0),
      ("y", 0.5), ("z", 9.0)).toDF("g", "v")
    val expected = Ivm.readView(Ivm.partials(full, Seq("g"), "v"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    // three deltas, merged in two different orders
    val parts = Seq(full.limit(2), full.offset(2).limit(2), full.offset(4))
      .map(d => Ivm.partials(d, Seq("g"), "v"))
    for (perm <- Seq(parts, parts.reverse)) {
      val got = Ivm.readView(Ivm.merge(perm, Seq("g")))
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(got == expected)
    }
  }

  test("merge is closed: partials of partials keep the same schema") {
    val d1 = Seq(("a", 1.0)).toDF("g", "v")
    val d2 = Seq(("a", 2.0), ("b", 3.0)).toDF("g", "v")
    val m = Ivm.merge(Seq(Ivm.partials(d1, Seq("g"), "v"),
      Ivm.partials(d2, Seq("g"), "v")), Seq("g"))
    assert(m.columns.toSeq == Seq("g", "n", "sum_v", "min_v", "max_v"))
    val v = Ivm.readView(m).filter(col("g") === "a").collect().head
    assert(v.getLong(1) == 2 && v.getDouble(2) == 3.0 &&
      v.getDouble(6 - 4) == 3.0)
  }

  // ---- triangles -----------------------------------------------------

  private def edges(pairs: (Long, Long)*) =
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a", "b")

  test("triangle counts match brute force on a known graph") {
    // K4 on {1,2,3,4}: 4 triangles, each node in exactly 3
    val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val out = Graph.triangleCounts(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("each triangle is counted exactly once at a hub") {
    // wheel: hub 0 joined to cycle 1-2-3-4-1 -> 4 triangles; hub in all
    // 4, each rim node in 2. The hub's high degree must not double-count.
    val wheel = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L,
      1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    val out = Graph.triangleCounts(wheel).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 4L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // triangle-free graph -> empty result
    val path = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(Graph.triangleCounts(path).count() == 0)
  }

  test("forced-broadcast guard prices bytes against the cap; shuffle fallback stays correct") {
    // unit face: under the default cap (a tenth of this JVM's heap) a
    // tiny relation broadcasts (a hint node wraps it); with the
    // configurable cap floored to one byte the SAME relation comes back
    // unwrapped — the loud shuffle fallback (ADVICE r18: guards must be
    // byte-sized, a row-count proxy ignores driver heap)
    val tiny = edges(1L -> 2L)
    assert(!(ForcedBroadcast.orShuffle(tiny, 1L, 48L, "spec") eq tiny))
    spark.conf.set("spark.graft.forcedBroadcastMaxBytes", "1")
    try {
      assert(ForcedBroadcast.orShuffle(tiny, 1L, 48L, "spec") eq tiny)
      // operator face: triangle closing falls back to the shuffle join
      // under the floored cap and counts identically
      val k4 = edges(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
        3L -> 4L)
      val out = Graph.triangleCounts(k4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    } finally spark.conf.unset("spark.graft.forcedBroadcastMaxBytes")

    // hard clamps (ADVICE r19): the guard must trip BEFORE Spark's own
    // 8GB/512M-row BroadcastExchange limits can fail the job — an
    // explicit cap above them is clamped down, and a row count past the
    // row clamp falls back even when the byte estimate is tiny
    spark.conf.set("spark.graft.forcedBroadcastMaxBytes",
      (100L << 30).toString)
    try {
      assert(ForcedBroadcast.capBytes(tiny) <= (7L << 30),
        "a configured cap above Spark's broadcast limit must clamp")
      assert(ForcedBroadcast.orShuffle(tiny, 1L, 8L << 30, "spec") eq tiny,
        "an 8GB estimate must shuffle even under a huge configured cap")
    } finally spark.conf.unset("spark.graft.forcedBroadcastMaxBytes")
    assert(ForcedBroadcast.orShuffle(tiny, 500L * 1000 * 1000, 1L,
      "spec") eq tiny, "row counts near Spark's 512M limit must shuffle")
  }

  test("degree histogram over the wheel") {
    val wheel = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L,
      1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    val h = Graph.degreeHistogram(wheel).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(4L -> 1L, 3L -> 4L))
  }

  test("salted two-phase sketch is bit-identical to the plain sketch") {
    val df = ((1L to 3000L).map(i => ("x", i)) ++
      (1L to 40L).map(i => ("y", i * 11))).toDF("slice", "key")
    for (k <- Seq(16, 64)) {
      val plain = Kmv.sketch(df, "slice", "key", k).collect()
        .map(_.toSeq).toSet
      val salted = Kmv.sketchSalted(df, "slice", "key", k).collect()
        .map(_.toSeq).toSet
      assert(salted == plain)
      // and under a different salt fan-out
      val salted8 = Kmv.sketchSalted(df, "slice", "key", k, salts = 8)
        .collect().map(_.toSeq).toSet
      assert(salted8 == plain)
    }
  }

  test("overlap matrix agrees with the pairwise estimate on every pair") {
    val df = ((1L to 40L).map(i => ("A", i)) ++ (30L to 70L).map(i => ("B", i))
      ++ (1L to 10L).map(i => ("C", i * 7))).toDF("slice", "key")
    val k = 16
    val sk = Kmv.sketch(df, "slice", "key", k)
    val matrix = Kmv.overlapMatrix(sk, k).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((a, b) <- Seq(("A", "B"), ("A", "C"), ("B", "C"))) {
      val pw = Kmv.overlapEstimate(sk, a, b, k).collect().head
      assert(matrix((a, b)) == ((pw.getLong(2), pw.getDouble(3),
        pw.getDouble(4))), s"pair ($a,$b)")
    }
    assert(matrix.size == 3)
  }

  test("collocations survive empty and whitespace-only documents") {
    // slice(ws, 1, size(ws) - 1) threw 'length must be >= 0' on a doc
    // whose filtered word list is empty; the guarded form must degrade
    // to zero bigrams exactly like the oracle's generate_series
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("colloc").toString
    Seq((1L, ""), (2L, "   "), (3L, "one"),
      (4L, "alpha beta alpha beta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.SparkEntry.queries("text_collocations")(
      spark, tmp)
    // min co-occurrence threshold (20) filters the toy bigrams away; the
    // point is the plan EXECUTES — degenerate docs contribute nothing
    assert(out.count() == 0)
  }
}
