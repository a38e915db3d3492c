package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** EXACT edit-distance similarity join — the entity-resolution /
  * record-linkage face of dedup: find every pair of strings within
  * Levenshtein distance `d`, without ever materializing the cross
  * product.
  *
  * Algorithm: partition-based segment blocking (the PassJoin family —
  * Li, Deng, Wang, Feng, "PassJoin: A Partition-based Method for
  * Similarity Joins", PVLDB 2011 — implemented from scratch on Spark
  * relational primitives) plus a deletion-neighborhood rescue of the
  * members of flooded blocking buckets. Every public face is one call
  * to [[segmentJoin]], whose scaladoc carries both exactness
  * arguments.
  *
  * Scale posture: both sides reduce to short (segment, i, l) keys — the
  * join is a plain hash equi-join on those keys (PlanSpec pins
  * no-cartesian / no-nested-loop); candidates, not the corpus, pay the
  * verification cost. The degenerate case is a FLOOD SEGMENT — a shared
  * constant prefix (every id starting "Customer#") puts one segment of
  * every row in one bucket and the candidate join goes quadratic
  * exactly like an LSH hot bucket. `maxBucketSize > 0` arms the same
  * loud drop used by [[Dedup.capBucketsPaired]] — and, exactly as
  * there, a drop trades RECALL, not precision: a pair whose only
  * untouched segment IS the flood segment (e.g. d=1 with the edit in
  * the diverse half) loses its one blocking key and goes unreported,
  * while every surviving pair is still levenshtein-verified. Keep the
  * cap disarmed unless a flood is demonstrated, or use a `*Rescued`
  * face; the loud stderr report names the dropped buckets so the trade
  * is visible.
  */
object EntityResolution {

  private val SegSchema = "array<struct<l:int,i:int,seg:string,pos:int>>"
  private val Keys = Seq("l", "i", "seg")

  /** Segment start offset (0-based) of segment `i` for a string of
    * length `l` split into `k` even segments: floor(i*l/k). Integer
    * arithmetic via floor(double) is exact for every l, i this ever
    * sees (l < 2^26).
    */
  private def segStart(i: Column, l: Column, k: Int): Column =
    floor(i * l / lit(k)).cast("int")

  /** Index-side blocking keys: one row per (id, str, l, i, seg) — the
    * d+1 home segments of each string.
    */
  private[graft] def segmentKeys(df: DataFrame, idCol: String,
                                 strCol: String, d: Int): DataFrame = {
    val k = d + 1
    val l = length(col(strCol))
    val segs = transform(sequence(lit(0), lit(d)), i => {
      val p = segStart(i, l, k)
      val len = segStart(i + 1, l, k) - p
      struct(l.as("l"), i.cast("int").as("i"),
        col(strCol).substr(p + 1, len).as("seg"), p.as("pos"))
    })
    df.select(col(idCol).as("__rid"), col(strCol).as("__rstr"),
        explode(segs).as("__s"))
      .select(col("__rid"), col("__rstr"), col("__s.*"))
  }

  /** Probe-side blocking keys: for each probe string of length `m`,
    * every substring that could equal an indexed segment — for each
    * candidate indexed length `l` in [m-d, m+d], each segment index
    * `i`, and each start within `d` of the segment's home offset. The
    * probe fan-out is O(d^2 * (2d+1)) substrings per row — constant in
    * corpus size.
    */
  private[graft] def probeKeys(df: DataFrame, idCol: String,
                               strCol: String, d: Int): DataFrame = {
    val k = d + 1
    val m = length(col(strCol))
    val subs = flatten(transform(
      sequence(greatest(m - d, lit(0)), m + d), l =>
        flatten(transform(sequence(lit(0), lit(d)), i => {
          val p = segStart(i, l, k)
          val len = segStart(i + 1, l, k) - p
          val lo = greatest(p - lit(d), lit(0))
          val hi = least(m - len, p + lit(d))
          when(hi >= lo,
            transform(sequence(lo, hi), j =>
              struct(l.cast("int").as("l"), i.cast("int").as("i"),
                col(strCol).substr(j + 1, len).as("seg"),
                j.cast("int").as("pos"))))
            .otherwise(array().cast(SegSchema))
        }))))
    df.select(col(idCol).as("__pid"), col(strCol).as("__pstr"),
        explode(subs).as("__s"))
      .select(col("__pid"), col("__pstr"), col("__s.*"))
  }

  /** One side of a join: a relation with its id and string columns. */
  private final case class Side(df: DataFrame, id: String, str: String)

  /** Where [[segmentJoin]]'s index side comes from. */
  private sealed trait Index
  /** The probe relation itself: unordered pairs, `__pid < __rid`. */
  private case object Self extends Index
  /** Segment keys built from another relation (record linkage). */
  private final case class Other(side: Side) extends Index
  /** An [[indexSegments]] relation built earlier (no rescue). */
  private final case class Prebuilt(rows: DataFrame) extends Index

  /** The segment join every public face delegates to: the verified
    * pair relation (__pid, __pstr, __rid, __rstr, dist), or with
    * `rescue` (__pid, __rid, dist) as an eager local checkpoint.
    *
    * Pigeonhole (no false negatives): split an indexed string of length
    * `l` into `d+1` contiguous segments; any string within edit distance
    * `d` of it contains AT LEAST ONE of those segments verbatim,
    * starting within `d` positions of the segment's home offset (each
    * edit shifts downstream characters by at most one, and at most `d`
    * edits touch the whole string, so some segment is untouched AND
    * un-shifted beyond `d`). Blocking on (segment text, segment index,
    * indexed length) therefore misses no pair; the thresholded
    * `levenshtein(...) <= d` verify (banded O(d*n) DP with early
    * abandon, -1 past the threshold) removes the false positives, so
    * the result is EXACTLY the cross-product semantics.
    *
    * Rescue (recall under the cap): a pair the cap loses is one whose
    * only untouched segment IS a dropped (flood) segment. That segment
    * is the pigeonhole witness: both strings contain it verbatim (index
    * side at home, probe side within d of home) and the witness
    * alignment maps it to itself, so ALL d edits live outside it — the
    * two complements (string with the matched occurrence excised) are
    * within edit distance d of each other. Two strings within edit
    * distance d always share a common string reachable by <= d
    * single-character deletions from each (every substitution deletes
    * one char on each side, every insert/delete one char on one side —
    * the FastSS/deletion-neighborhood family, Bocek et al. 2007), so
    * blocking the dropped members on the <= d-deletion variants of
    * their complements has zero false negatives. Deletion keys are
    * POSITION-FREE, which is what the layered-constant corpus
    * ("Customer#000…", whose prefix would survive one segment excision
    * as "er#0…" and flood again) needs — one round, no iteration. A
    * deletion-key bucket can still flood (exact-duplicate complements,
    * or complements shorter than d, whose empty variant buckets
    * everything — both truly quadratic pair sets), and then the same
    * cap drops it LOUDLY. Precision is untouched: every rescued
    * candidate is levenshtein-verified on the ORIGINAL strings. Cost:
    * deletion fan-out is C(|complement|, <= d) per hot member, nothing
    * when no bucket floods; at d = 1 it is linear in the complement
    * length.
    *
    * The rescue reads each key relation three times (the cap's bucket
    * count, the candidate join, the complement extraction) and each
    * neighborhood twice, so it persists them — the explode over the
    * corpus runs once — and releases all of them once the result is
    * checkpointed. The plain faces read each side once and persist
    * nothing.
    */
  private def segmentJoin(probe: Side, index: Index, d: Int, cap: Int,
                          what: String, rescue: Boolean = false): DataFrame = {
    require(d >= 1, s"edit-distance threshold must be >= 1, got $d")
    require(!rescue || cap > 0,
      "rescue only makes sense with the cap armed (maxBucketSize > 0)")
    val self = index == Self
    // the index side's relation (the probe's when prebuilt: never read)
    val right = index match { case Other(s) => s; case _ => probe }
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame =
      if (rescue) { held += df.persist(StorageLevel.MEMORY_AND_DISK); df }
      else df
    try {
      val pk = keep(probeKeys(probe.df, probe.id, probe.str, d))
      val ik = index match {
        case Prebuilt(rows) => rows.select(col("index_id").as("__rid"),
          col("index_str").as("__rstr"), col("l"), col("i"), col("seg"))
        case _ => keep(segmentKeys(right.df, right.id, right.str, d))
      }
      // the rescue's first read of the persisted keys is the cap's
      // single-threaded checkpoint action: no count() race guard needed
      val (pc, ic, hot) = Dedup.capBucketsPairedHot(pk, ik, Keys, cap, what)
      val cand = pc.join(ic, Keys)
      val base = (if (self) cand.filter(col("__pid") < col("__rid")) else cand)
        .select(col("__pid"), col("__pstr"), col("__rid"), col("__rstr"))
        .distinct()
        .withColumn("dist", levenshtein(col("__pstr"), col("__rstr"), d))
        .filter(col("dist") >= 0)
      val pairs = base.select(col("__pid"), col("__rid"), col("dist"))
      if (!rescue) base else hot.fold(pairs) { hot0 =>
        val h = broadcast(hot0)
        // every (member, matched occurrence) of a dropped bucket
        def occurrences(k: DataFrame, id: String, str: String): DataFrame =
          k.join(h, Keys).select(col(id).as("mid"), col(str).as("mstr"),
            col("pos"), length(col("seg")).as("slen"))
        // complement = the string with the occurrence excised,
        // materialized eagerly: the 0..d deletion levels each read it
        // inside ONE job (the rescue cap's checkpoint), whose union
        // branches would otherwise race to compute the same cache
        // partitions (the block-lock stall documented at
        // Dedup.lshCandidatePairs)
        def complements(occ: DataFrame): DataFrame = {
          val c = keep(occ.select(col("mid"), concat(
              col("mstr").substr(lit(1), col("pos")),
              col("mstr").substr(col("pos") + col("slen") + 1,
                length(col("mstr")))).as("cstr"))
            .distinct())
          c.count()
          c
        }
        // deletion neighborhood U_{<=d}: every string reachable from the
        // complement by 0..d single-character deletions. sequence(1, 0)
        // DESCENDS in Spark, so empty strings are guarded explicitly.
        val delOnce = "CASE WHEN length(v) >= 1 THEN " +
          "transform(sequence(1, length(v)), " +
          "p -> concat(substr(v, 1, p - 1), substr(v, p + 1, length(v)))) " +
          "ELSE array() END"
        def neighborhood(c: DataFrame): DataFrame = keep(
          (1 to d).scanLeft(c.select(col("mid"), col("cstr").as("v"))) {
            (prev, _) => prev.select(col("mid"), explode(expr(delOnce)).as("v"))
          }.reduce(_ unionByName _).distinct())
        val po = occurrences(pk, "__pid", "__pstr")
        val io = occurrences(ik, "__rid", "__rstr")
        // the second family under the SAME cap: one bucket count over the
        // self neighborhood, the combined-membership count over a pair
        val (cl, cr) =
          if (self) {
            val c = keep(Dedup.capBuckets(neighborhood(complements(
              po.unionByName(io))), Seq("v"), cap, s"$what rescue"))
            c.count()
            (c, c)
          } else Dedup.capBucketsPaired(neighborhood(complements(po)),
            neighborhood(complements(io)), Seq("v"), cap, s"$what rescue")
        val rc = cl.select(col("v"), col("mid").as("__pid"))
          .join(cr.select(col("v"), col("mid").as("__rid")), Seq("v"))
        val rescued = (if (self) rc.filter(col("__pid") < col("__rid")) else rc)
          .select(col("__pid"), col("__rid")).distinct()
          .join(probe.df.select(col(probe.id).as("__pid"),
            col(probe.str).as("__sa")), Seq("__pid"))
          .join(right.df.select(col(right.id).as("__rid"),
            col(right.str).as("__sb")), Seq("__rid"))
          .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d))
          .filter(col("dist") >= 0)
          .select(col("__pid"), col("__rid"), col("dist"))
        pairs.unionByName(rescued).dropDuplicates("__pid", "__rid")
      }.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    } finally held.foreach(_.unpersist())
  }

  /** A kernel pair relation under the caller's id column names. */
  private def ids(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col("__pid").as(a), col("__rid").as(b), col("dist"))

  /** All (left, right) pairs with levenshtein(leftStr, rightStr) <= d —
    * EXACT cross-product semantics via [[segmentJoin]]. Output:
    * (leftId, rightId, dist), column names taken from the id arguments.
    */
  def editDistanceJoin(left: DataFrame, leftId: String, leftStr: String,
                       right: DataFrame, rightId: String, rightStr: String,
                       d: Int, maxBucketSize: Int = 0): DataFrame =
    ids(segmentJoin(Side(left, leftId, leftStr),
      Other(Side(right, rightId, rightStr)), d, maxBucketSize,
      "editDistanceJoin"), leftId, rightId)

  /** [[editDistanceJoin]] KEEPING the verified strings. The pair
    * relation already carries both strings through the candidate
    * distinct (the levenshtein verify needs them), so a consumer that
    * scores the matched strings further — the Jaro-Winkler re-rank —
    * reads them HERE instead of joining both corpus sides back onto
    * the pair relation: two joins and two corpus re-scans removed
    * (guide §2.4), zero extra shuffle bytes beyond the strings the
    * verify already moved. Output: (leftId, rightId, dist,
    * leftStrOut, rightStrOut).
    */
  def editDistanceJoinWithStrings(left: DataFrame, leftId: String,
      leftStr: String, right: DataFrame, rightId: String, rightStr: String,
      d: Int, leftStrOut: String, rightStrOut: String,
      maxBucketSize: Int = 0): DataFrame =
    segmentJoin(Side(left, leftId, leftStr),
        Other(Side(right, rightId, rightStr)), d, maxBucketSize,
        "editDistanceJoin")
      .select(col("__pid").as(leftId), col("__rid").as(rightId),
        col("dist"), col("__pstr").as(leftStrOut),
        col("__rstr").as(rightStrOut))

  /** Self-join face of [[segmentJoin]]: unordered pairs (idA < idB)
    * within distance d, output (id_a, id_b, dist).
    */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
                           d: Int, maxBucketSize: Int = 0): DataFrame =
    ids(segmentJoin(Side(df, idCol, strCol), Self, d, maxBucketSize,
      "editDistanceSelfJoin"), "id_a", "id_b")

  /** [[editDistanceSelfJoin]] with the hot-bucket recall RESTORED by
    * [[segmentJoin]]'s deletion-neighborhood rescue (r15 verdict task
    * 6): the cap alone trades recall silently beyond the loud audit.
    * The result is an eager local checkpoint; nothing else stays
    * persisted.
    */
  def editDistanceSelfJoinRescued(df: DataFrame, idCol: String,
                                  strCol: String, d: Int,
                                  maxBucketSize: Int): DataFrame =
    ids(segmentJoin(Side(df, idCol, strCol), Self, d, maxBucketSize,
      "editDistanceSelfJoinRescued", rescue = true), "id_a", "id_b")

  /** [[editDistanceJoin]] with the hot-bucket recall restored — the
    * two-relation (record-linkage) face of
    * [[editDistanceSelfJoinRescued]]: the same rescue with candidates
    * oriented left-probe vs right-index.
    */
  def editDistanceJoinRescued(left: DataFrame, leftId: String,
                              leftStr: String, right: DataFrame,
                              rightId: String, rightStr: String, d: Int,
                              maxBucketSize: Int): DataFrame =
    ids(segmentJoin(Side(left, leftId, leftStr),
      Other(Side(right, rightId, rightStr)), d, maxBucketSize,
      "editDistanceJoinRescued", rescue = true), leftId, rightId)

  /** The index relation for [[editDistanceJoinIndexed]] — build once
    * over the reference corpus, persist/append, probe with every new
    * batch (the incremental-ingest shape shared with
    * [[Dedup.bandIndex]]): one row per (index_id, l, i, seg).
    */
  def indexSegments(df: DataFrame, idCol: String, strCol: String,
                    d: Int): DataFrame =
    segmentKeys(df, idCol, strCol, d)
      .select(col("__rid").as("index_id"), col("__rstr").as("index_str"),
        col("l"), col("i"), col("seg"))

  /** Probe a PRE-BUILT segment index with a new batch through
    * [[segmentJoin]] — per-ingest cost is batch-fanout-sized plus the
    * candidate join, independent of how the index was accumulated.
    * Output: (leftId, index_id, dist).
    */
  def editDistanceJoinIndexed(index: DataFrame, left: DataFrame,
                              leftId: String, leftStr: String, d: Int,
                              maxBucketSize: Int = 0): DataFrame =
    ids(segmentJoin(Side(left, leftId, leftStr), Prebuilt(index), d,
      maxBucketSize, "editDistanceJoinIndexed"), leftId, "index_id")

  /** Entity clusters: connected components over the distance-<=d pair
    * graph of [[editDistanceSelfJoin]] ([[Dedup.resolveClusters]] label
    * propagation), every record labeled with its component's minimum id
    * — singletons keep their own id. The canonical "which rows are the
    * same real-world entity" output.
    */
  def clusterIds(df: DataFrame, idCol: String, strCol: String, d: Int,
                 maxBucketSize: Int = 0): DataFrame =
    clusters(df, idCol,
      editDistanceSelfJoin(df, idCol, strCol, d, maxBucketSize))

  /** [[clusterIds]] over the RESCUED pair relation
    * ([[editDistanceSelfJoinRescued]]) — connected components whose
    * edge set keeps the flood-segment pairs the cap drops (a flood is
    * precisely where clusters are LARGE, i.e. where losing edges splits
    * real entities), then the same min-label resolution (r16 verdict
    * task 5).
    */
  def clusterIdsRescued(df: DataFrame, idCol: String, strCol: String,
                        d: Int, maxBucketSize: Int): DataFrame =
    clusters(df, idCol,
      editDistanceSelfJoinRescued(df, idCol, strCol, d, maxBucketSize))

  /** The label join of both cluster faces: each record of `df` with its
    * component's min id over the (id_a, id_b) pair relation, or its own.
    */
  private def clusters(df: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val labels = Dedup.resolveClusters(
      pairs.select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
    df.select(col(idCol))
      .join(labels, df(idCol) === labels("node"), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** Record-linkage resolution: for each left record, its BEST match on
    * the right (minimum distance, ties broken by minimum right id) —
    * one aggregation over [[editDistanceJoin]]'s pair relation, no
    * window sort. Left records with no match within `d` are absent
    * (the unlinked remainder is `left.join(result, "left_anti")`).
    */
  def linkBest(left: DataFrame, leftId: String, leftStr: String,
               right: DataFrame, rightId: String, rightStr: String,
               d: Int, maxBucketSize: Int = 0): DataFrame =
    bestOf(editDistanceJoin(left, leftId, leftStr, right, rightId,
      rightStr, d, maxBucketSize), leftId, rightId, d)

  /** [[linkBest]] over the RESCUED pair relation
    * ([[editDistanceJoinRescued]]) — under a blocking-bucket flood the
    * plain capped join loses pairs and the "best match" silently
    * degrades to the best SURVIVING match (or the record vanishes);
    * the rescued face restores exact recall first, so best means best
    * (r16 verdict task 5).
    */
  def linkBestRescued(left: DataFrame, leftId: String, leftStr: String,
                      right: DataFrame, rightId: String, rightStr: String,
                      d: Int, maxBucketSize: Int): DataFrame =
    bestOf(editDistanceJoinRescued(left, leftId, leftStr, right, rightId,
      rightStr, d, maxBucketSize), leftId, rightId, d)

  /** Per-left best (min dist, ties to min right id). `dist` is a
    * bounded small int (the pair relation carries 0..d by
    * construction), so the lexicographic `min(struct(dist, id))` —
    * which only runs in a SortAggregate (non-primitive buffer) —
    * decomposes into d+1 conditional PRIMITIVE minima: one
    * `min(id | dist = i)` per level, best = the first non-null level.
    * Whole-stage-codegen hash aggregation with map-side partial
    * aggregation over the pair relation (r22; the Dedup packed-min
    * lesson applied to the int-bounded case).
    */
  private def bestOf(pairs: DataFrame, leftId: String,
                     rightId: String, d: Int): DataFrame = {
    val mins = (0 to d).map(i =>
      min(when(col("dist") === i, col(rightId))).as(s"__m$i"))
    val best = coalesce((0 to d).map(i => col(s"__m$i")): _*)
    val dist = (0 to d).foldRight(lit(null).cast("int")) { (i, acc) =>
      when(col(s"__m$i").isNotNull, lit(i)).otherwise(acc) }
    pairs
      .groupBy(col(leftId))
      .agg(mins.head, mins.tail: _*)
      .select(col(leftId), best.as(rightId), dist.as("dist"))
  }
}
