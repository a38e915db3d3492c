package graft.tools

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: ANN recall ladder sweep. Measures mean recall@10 of the
  * IVF-PQ configurations (seeded / learned-PQ / fully-learned, each with
  * and without the exact-cosine rerank stage) across a range of `nprobe`
  * values — the tuning loop behind picking the served configuration.
  *
  * Two query sets are swept per rung: `insample` (vec_id % 100 == 0 — the
  * repo's oracle convention; a strict SUBSET of the % 50 centroid seeds, so
  * its recall is optimistically biased: every query is its own IVF centroid
  * and a k-means init point) and `holdout` (vec_id % 100 == 7 — disjoint
  * from the seeds, the honest out-of-sample number to tune on).
  *
  * A second mode sweeps TRAINING DEPTH instead of probe width: `iters`
  * as the second argument runs the fully-learned configuration at its
  * served rung (nprobe=5 + rerank50) across Lloyd-iteration depths for
  * the coarse quantizer and the PQ sub-codebooks — the diagonal
  * (d, d) plus the two off-diagonal attribution points at the deepest
  * rung (deep coarse x shallow PQ and vice versa), and the learned-PQ
  * rung (nprobe=3 + rerank50) at each PQ depth. Both trainers stop at
  * their exact 1e-6-grid fixed point, so depths past convergence are
  * free and identical.
  *
  * A third mode sweeps CODEBOOK SHAPE: `shape` as the second argument
  * trains FIXED-SIZE sub-codebooks ([[Similarity.pqCodebookFixed]] —
  * the production configuration, capacity decoupled from corpus size)
  * across m x k_sub combinations and measures both the learned-PQ rung
  * (seed coarse, nprobe=3) and the residual rung (learned coarse,
  * nprobe=5), ADC and rerank50, insample + holdout. Round-12 verdict:
  * depth is measured flat, so capacity (classically 256 codes/sub) is
  * the remaining recall lever.
  *
  * Usage: runMain graft.tools.RecallLadder <sfDir> [nprobe,nprobe,...]
  *        runMain graft.tools.RecallLadder <sfDir> iters [d,d,...]
  *        runMain graft.tools.RecallLadder <sfDir> shape [m:k,m:k,...]
  */
object RecallLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val itersMode = args.length > 1 && args(1) == "iters"
    val shapeMode = args.length > 1 && args(1) == "shape"
    val nprobes: Seq[Int] =
      if (itersMode || shapeMode || args.length <= 1)
        Seq(3, 4, 5, 6, 8)
      else args(1).split(",").map(_.trim.toInt).toSeq
    val depths: Seq[Int] =
      if (itersMode && args.length > 2)
        args(2).split(",").map(_.trim.toInt).toSeq
      else Seq(2, 4, 8, 16)
    val spark = graft.Session.local()

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding")).persist()
    e.count()
    // (predicate name, query set, exact ground truth) — insample matches the
    // oracle convention; holdout is disjoint from the centroid seeds.
    val querySets: Seq[(String, DataFrame, DataFrame)] =
      Seq(("insample", col("vec_id") % 100 === 0),
        ("holdout", col("vec_id") % 100 === 7)).map { case (qn, pred) =>
        val exact = Similarity.bruteForceTopK(e, pred, k = 10).persist()
        exact.count()
        (qn, e.filter(pred), exact)
      }

    val seed = e.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")

    def meanRecallOf(approx: DataFrame, exact: DataFrame): Double =
      Similarity.recallAtK(approx, exact, k = 10)
        .agg(avg(col("recall"))).head().getDouble(0)

    if (itersMode) {
      // rerank50 recall at the served rungs across training depths;
      // codebooks are cached per depth so the attribution points reuse them
      val pqByDepth = depths.map { d =>
        val cb = Similarity.pqCodebookLearned(e, m = 4, dim = 64,
          centroidMod = 50, maxIters = d).persist()
        cb.count(); d -> cb
      }.toMap
      val coarseByDepth = depths.map { d =>
        d -> Similarity.kmeansTrain(e, seed, maxIters = d)
      }.toMap
      val dMax = depths.max
      val dMin = depths.min
      // (label, coarse book, pq book, nprobe): the (d,d) diagonal at the
      // fully-learned rung, the two attribution corners, and the
      // learned-PQ rung (seed coarse) per PQ depth
      val rungs: Seq[(String, DataFrame, DataFrame, Int)] =
        depths.map(d => (f"full(c=$d%-2d,pq=$d%-2d)",
          coarseByDepth(d), pqByDepth(d), 5)) ++
        Seq((f"full(c=$dMax%-2d,pq=$dMin%-2d)",
          coarseByDepth(dMax), pqByDepth(dMin), 5),
          (f"full(c=$dMin%-2d,pq=$dMax%-2d)",
            coarseByDepth(dMin), pqByDepth(dMax), 5)) ++
        depths.map(d => (f"lpq(pq=$d%-2d)      ", seed, pqByDepth(d), 3))
      for ((label, ivfCb, pqCb, np) <- rungs) {
        val index = Similarity.ivfPqIndex(e, ivfCb, pqCb, m = 4, dim = 64)
          .persist()
        index.count()
        val rows = querySets.map { case (qn, queries, exact) =>
          val rr = meanRecallOf(Similarity.ivfPqTopKIndexedReranked(index,
            ivfCb, pqCb, queries, e, m = 4, dim = 64, nprobe = np,
            shortlist = 50, k = 10), exact)
          f"$qn=$rr%.4f"
        }
        println(s"ITERS $label nprobe=$np rerank50 ${rows.mkString(" ")}")
        index.unpersist()
      }
      pqByDepth.values.foreach(_.unpersist())
      spark.stop()
      return
    }

    if (shapeMode) {
      // entries "m:k" (default nprobes: lpq=3, res=5), "m:k:np" (probe
      // the given width on BOTH rungs — the probe-coverage attribution
      // sweep: holdout at np=cells is the IVF-free upper bound of the
      // codebook at this shortlist), or "m:k:np:sl" (also vary the
      // rerank shortlist — the OTHER serving knob)
      val shapes: Seq[(Int, Int, Option[Int], Int)] =
        if (args.length > 2) args(2).split(",").toSeq.map { s =>
          scala.util.Try(s.split(":").map(_.trim.toInt)).getOrElse(Array[Int]()) match {
            case Array(a, b) => (a, b, None, 50)
            case Array(a, b, np) => (a, b, Some(np), 50)
            case Array(a, b, np, sl) => (a, b, Some(np), sl)
            case _ =>
              System.err.println(
                s"RecallLadder: bad shape entry '$s' — expected m:k[:np[:sl]] " +
                  "(integers), e.g. 8:256 or 8:256:20:100")
              spark.stop(); sys.exit(2)
          } }
        else Seq((4, 16, None, 50), (4, 256, None, 50),
          (8, 16, None, 50), (8, 256, None, 50))
      val learnedCoarse = Similarity.kmeansTrain(e, seed, maxIters = 2)
        .persist()
      learnedCoarse.count()
      for ((m, ksub, npOpt, sl) <- shapes) {
        val t0 = System.nanoTime()
        val pqCb = Similarity.pqCodebookLearnedFrom(e,
          Similarity.pqCodebookFixed(e, m, 64, ksub), m, 64, maxIters = 8)
          .persist()
        pqCb.count()
        val idx = Similarity.ivfPqIndex(e, seed, pqCb, m, 64).persist()
        idx.count()
        val trainSec = (System.nanoTime() - t0) / 1e9
        for ((qn, queries, exact) <- querySets) {
          val adc = meanRecallOf(Similarity.ivfPqTopKIndexed(idx, seed,
            pqCb, queries, m = m, dim = 64, nprobe = npOpt.getOrElse(3),
            k = 10), exact)
          val rr = meanRecallOf(Similarity.ivfPqTopKIndexedReranked(idx,
            seed, pqCb, queries, e, m = m, dim = 64,
            nprobe = npOpt.getOrElse(3), shortlist = sl, k = 10), exact)
          println(f"SHAPE lpq m=$m%-2d k=$ksub%-4d $qn%-9s " +
            f"nprobe=${npOpt.getOrElse(3)}%-3d sl=$sl%-3d " +
            f"adc=$adc%.4f rerank=$rr%.4f train=$trainSec%.1fs")
        }
        idx.unpersist()
        val t1 = System.nanoTime()
        val res = Similarity.ivfResiduals(e, learnedCoarse).persist()
        res.count()
        val pqCbRes = Similarity.pqCodebookLearnedFrom(res,
          Similarity.pqCodebookFixed(res, m, 64, ksub), m, 64, maxIters = 8)
          .persist()
        pqCbRes.count()
        val ridx = Similarity.ivfPqResidualIndex(e, learnedCoarse, pqCbRes,
          m, 64).persist()
        ridx.count()
        val trainResSec = (System.nanoTime() - t1) / 1e9
        for ((qn, queries, exact) <- querySets) {
          val adc = meanRecallOf(Similarity.ivfPqResidualTopKIndexed(ridx,
            learnedCoarse, pqCbRes, queries, m = m, dim = 64,
            nprobe = npOpt.getOrElse(5), k = 10), exact)
          val rr = meanRecallOf(Similarity.ivfPqResidualTopKIndexedReranked(
            ridx, learnedCoarse, pqCbRes, queries, e, m = m, dim = 64,
            nprobe = npOpt.getOrElse(5), shortlist = sl, k = 10), exact)
          println(f"SHAPE res m=$m%-2d k=$ksub%-4d $qn%-9s " +
            f"nprobe=${npOpt.getOrElse(5)}%-3d sl=$sl%-3d " +
            f"adc=$adc%.4f rerank=$rr%.4f train=$trainResSec%.1fs")
        }
        ridx.unpersist(); pqCbRes.unpersist(); res.unpersist()
        pqCb.unpersist()
      }
      learnedCoarse.unpersist()
      spark.stop()
      return
    }

    // the three codebook configurations on the ladder
    val seedPq = Similarity.pqCodebook(e, m = 4, dim = 64, centroidMod = 50)
      .persist()
    seedPq.count()
    val learnedPq = Similarity.pqCodebookLearned(e, m = 4, dim = 64,
      centroidMod = 50, maxIters = 2).persist()
    learnedPq.count()
    val learnedCoarse = Similarity.kmeansTrain(e, seed, maxIters = 2)

    val configs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("seeded", seed, seedPq),
      ("learned-pq", seed, learnedPq),
      ("full-learned", learnedCoarse, learnedPq))

    for ((name, ivfCb, pqCb) <- configs) {
      val index = Similarity.ivfPqIndex(e, ivfCb, pqCb, m = 4, dim = 64)
        .persist()
      index.count()
      for (np <- nprobes; (qn, queries, exact) <- querySets) {
        val adc = meanRecallOf(Similarity.ivfPqTopKIndexed(index, ivfCb, pqCb,
          queries, m = 4, dim = 64, nprobe = np, k = 10), exact)
        val rr = meanRecallOf(Similarity.ivfPqTopKIndexedReranked(index, ivfCb,
          pqCb, queries, e, m = 4, dim = 64, nprobe = np, shortlist = 50,
          k = 10), exact)
        println(f"LADDER $name%-13s $qn%-9s nprobe=$np%-2d adc=$adc%.4f rerank50=$rr%.4f")
      }
      index.unpersist()
    }

    // residual configs (PQ over x − coarse_centroid, FAISS IVFADC shape):
    // residual codebooks are coarse-book-specific, so each coarse choice
    // trains its own
    val resConfigs: Seq[(String, DataFrame)] = Seq(
      ("res-seeded", seed), ("res-full-learned", learnedCoarse))
    for ((name, ivfCb) <- resConfigs) {
      val res = Similarity.ivfResiduals(e, ivfCb).persist()
      res.count()
      val pqCbRes = Similarity.pqCodebookResidualLearned(res, m = 4,
        dim = 64, centroidMod = 50, maxIters = 2).persist()
      pqCbRes.count()
      val index = Similarity.ivfPqResidualIndex(e, ivfCb, pqCbRes, m = 4,
        dim = 64).persist()
      index.count()
      for (np <- nprobes; (qn, queries, exact) <- querySets) {
        val adc = meanRecallOf(Similarity.ivfPqResidualTopKIndexed(index,
          ivfCb, pqCbRes, queries, m = 4, dim = 64, nprobe = np, k = 10),
          exact)
        val rr = meanRecallOf(Similarity.ivfPqResidualTopKIndexedReranked(
          index, ivfCb, pqCbRes, queries, e, m = 4, dim = 64, nprobe = np,
          shortlist = 50, k = 10), exact)
        println(f"LADDER $name%-16s $qn%-9s nprobe=$np%-2d adc=$adc%.4f rerank50=$rr%.4f")
      }
      index.unpersist(); pqCbRes.unpersist(); res.unpersist()
    }
    seedPq.unpersist(); learnedPq.unpersist()
    spark.stop()
  }
}
