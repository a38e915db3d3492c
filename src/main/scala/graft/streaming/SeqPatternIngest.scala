package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the GAP-CONSTRAINED sequential patterns
  * ([[graft.ops.EventOps.seqPatternsGap]] / `seqPatternsGap3`) — the
  * events-family analogue of the dedup ingests, with a state posture
  * those can't have: the persisted state is NOT the event history but
  * the LAST-PREDECESSOR summaries the batch operator's exchange
  * argument already proved sufficient —
  *
  *   - `lastDir`: ONE row per (user, type): the latest occurrence
  *     (tsec, event_id). The latest A before any future event b
  *     minimizes the (A, b) gap, so nothing older can ever matter.
  *   - `valid2Dir`: ONE row per (user, type_a, type_b): the latest
  *     occurrence that completed an (A, B) prefix within the gap. The
  *     latest valid prefix before a future c minimizes the second gap.
  *
  * Each micro-batch replays the batch operator's merged-stream window
  * scan with the store summaries injected as markers ordered before
  * the batch (their true (tsec, event_id) keys), emits newly supported
  * (user, A, B) / (user, A, B, C) rows, and advances the summaries —
  * per-user state O(|types|²) regardless of history length.
  *
  * Ordering contract (the watermark contract every event ingest here
  * carries): batches arrive in event-time order per user — every event
  * in a batch is (tsec, event_id)-after everything previously
  * ingested for that user. Support rows are MONOTONE (a user once
  * supporting a pattern supports it forever), so late data can only
  * MISS support, never fabricate it.
  *
  * Replay: store updates are per-key maxima
  * (idempotent under replay); a replayed event never sees its own
  * marker (queries order before markers on equal (tsec, event_id), and
  * the stored summary carries the event id precisely so the tie is
  * exact), and every marker a replayed query CAN see is a genuine
  * earlier occurrence — so replays append only true support rows,
  * which [[support2]]/[[support3]] dedup on read.
  */
object SeqPatternIngest {

  def start(events: DataFrame, lastDir: String, valid2Dir: String,
            supp2Dir: String, supp3Dir: String, checkpointDir: String,
            maxGapSeconds: Long): StreamingQuery =
    Stores.start(events, checkpointDir) { (batch, _) =>
      ingestBatch(batch, lastDir, valid2Dir, supp2Dir, supp3Dir,
        maxGapSeconds)
    }

  /** One ingest step (also directly usable from a batch scheduler).
    * Input columns: user_id, event_type, tsec, event_id.
    */
  def ingestBatch(batch: DataFrame, lastDir: String, valid2Dir: String,
                  supp2Dir: String, supp3Dir: String,
                  maxGapSeconds: Long): Unit = {
    Stores.materialized(batch.select(col("user_id"), col("event_type"),
      col("tsec").cast("long").as("tsec"),
      col("event_id").cast("long").as("event_id"))) { ev =>
      val o = struct(col("tsec"), col("event_id"))

      // ---- pass 1: (A, B) with gap <= g ---------------------------------
      val oldLast = readMax(lastDir, Seq("user_id", "type_a"), ev
        .select(col("user_id"), col("event_type").as("type_a"),
          col("tsec").as("mts"), col("event_id").as("mid")))

      // loud ordering-contract guard (ADVICE r18): the summary recurrence
      // is only exact when batches arrive in per-user event-time order;
      // an out-of-order batch silently LOSES support (its events query
      // against summaries whose occurrence is later and thus invisible).
      // Count the breaches against the stored per-user frontier and
      // stderr-log them — conservative: an at-least-once REPLAY also
      // trips it (a replayed event ties or precedes its own marker),
      // which is harmless for support (scaladoc above) but still worth a
      // line in the log. [[orderViolations]] is the queryable face.
      val nViol = violationsAgainst(ev, oldLast).count()
      if (nViol > 0)
        System.err.println(s"[seqpattern-ingest] $nViol batch event(s) at " +
          "or before the stored per-user frontier — out-of-order batch " +
          "(or at-least-once replay); support may be undercounted " +
          s"(store: $lastDir)")
      // the type alphabet must cover STORED types too: an old-type-A
      // summary still has to mark new-B queries
      val types = ev.select(col("event_type").as("type_a"))
        .unionByName(oldLast.select(col("type_a"))).distinct()
      val mStore = oldLast.select(col("user_id"), col("type_a"),
        struct(col("mts").as("tsec"), col("mid").as("event_id")).as("o"),
        col("mts"), lit(1).as("is_m"),
        lit(null).cast("string").as("type_b"),
        lit(null).cast("long").as("qts"))
      val mBatch = ev.select(col("user_id"),
        col("event_type").as("type_a"), o.as("o"),
        col("tsec").as("mts"), lit(1).as("is_m"),
        lit(null).cast("string").as("type_b"),
        lit(null).cast("long").as("qts"))
      val queries = ev.select(col("user_id"),
          col("event_type").as("type_b"), o.as("o"), col("tsec").as("qts"))
        .crossJoin(broadcast(types))
        .select(col("user_id"), col("type_a"), col("o"),
          lit(null).cast("long").as("mts"), lit(0).as("is_m"),
          col("type_b"), col("qts"))
      val w1 = Window.partitionBy(col("user_id"), col("type_a"))
        .orderBy(col("o"), col("is_m"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Stores.materialized(mStore.unionByName(mBatch).unionByName(queries)
        .withColumn("__last",
          max(when(col("is_m") === 1, col("mts"))).over(w1))
        .filter(col("is_m") === 0 && col("__last").isNotNull &&
          col("qts") - col("__last") <= maxGapSeconds)
        .select(col("user_id"), col("type_a"), col("type_b"), col("o"),
          col("qts"))) { valid2New =>
        valid2New.select(col("user_id"), col("type_a"), col("type_b"))
          .distinct()
          .write.mode("append").parquet(supp2Dir)

        // ---- pass 2: (A, B, C) with both gaps <= g ------------------------
        val oldV2 = readMax(valid2Dir,
          Seq("user_id", "type_a", "type_b"), ev
            .select(col("user_id"), col("event_type").as("type_a"),
              col("event_type").as("type_b"), col("tsec").as("mts"),
              col("event_id").as("mid")))
        val pairsAlpha = oldV2.select(col("type_a"), col("type_b"))
          .unionByName(valid2New.select(col("type_a"), col("type_b")))
          .distinct()
        val m2Store = oldV2.select(col("user_id"), col("type_a"),
          col("type_b"),
          struct(col("mts").as("tsec"), col("mid").as("event_id")).as("o"),
          col("mts"), lit(1).as("is_m"),
          lit(null).cast("string").as("type_c"),
          lit(null).cast("long").as("qts"))
        val m2Batch = valid2New.select(col("user_id"), col("type_a"),
          col("type_b"), col("o"), col("qts").as("mts"), lit(1).as("is_m"),
          lit(null).cast("string").as("type_c"),
          lit(null).cast("long").as("qts"))
        val queries2 = ev.select(col("user_id"),
            col("event_type").as("type_c"), o.as("o"), col("tsec").as("qts"))
          .crossJoin(broadcast(pairsAlpha))
          .select(col("user_id"), col("type_a"), col("type_b"), col("o"),
            lit(null).cast("long").as("mts"), lit(0).as("is_m"),
            col("type_c"), col("qts"))
        val w2 = Window.partitionBy(col("user_id"), col("type_a"),
            col("type_b"))
          .orderBy(col("o"), col("is_m"))
          .rowsBetween(Window.unboundedPreceding, -1)
        m2Store.unionByName(m2Batch).unionByName(queries2)
          .withColumn("__last",
            max(when(col("is_m") === 1, col("mts"))).over(w2))
          .filter(col("is_m") === 0 && col("__last").isNotNull &&
            col("qts") - col("__last") <= maxGapSeconds)
          .select(col("user_id"), col("type_a"), col("type_b"),
            col("type_c"))
          .distinct()
          .write.mode("append").parquet(supp3Dir)

        // ---- advance the summaries (per-key maxima; replay-idempotent) ----
        ev.groupBy(col("user_id"), col("event_type").as("type_a"))
          .agg(max(o).as("m"))
          .select(col("user_id"), col("type_a"), col("m.tsec").as("mts"),
            col("m.event_id").as("mid"))
          .write.mode("append").parquet(lastDir)
        valid2New.groupBy(col("user_id"), col("type_a"), col("type_b"))
          .agg(max(col("o")).as("m"))
          .select(col("user_id"), col("type_a"), col("type_b"),
            col("m.tsec").as("mts"), col("m.event_id").as("mid"))
          .write.mode("append").parquet(valid2Dir)
      }
    }
  }

  /** Accumulated supported (user, A, B) rows, replay-deduped — equal to
    * the user-level support set behind
    * [[graft.ops.EventOps.seqPatternsGap]] over everything ingested.
    */
  def support2(spark: SparkSession, supp2Dir: String): DataFrame =
    spark.read.parquet(supp2Dir)
      .dropDuplicates("user_id", "type_a", "type_b")

  /** Accumulated supported (user, A, B, C) rows, replay-deduped. */
  def support3(spark: SparkSession, supp3Dir: String): DataFrame =
    spark.read.parquet(supp3Dir)
      .dropDuplicates("user_id", "type_a", "type_b", "type_c")

  /** Right-to-be-forgotten: drop a user from every store (summaries and
    * support rows), each rewritten through the atomic swap. Returns
    * rows removed per path.
    */
  def purge(spark: SparkSession, userIds: DataFrame, lastDir: String,
            valid2Dir: String, supp2Dir: String,
            supp3Dir: String): Map[String, Long] =
    Seq(lastDir, valid2Dir, supp2Dir, supp3Dir).map(d =>
      d -> graft.pipeline.Pipeline.purgeIds(spark, d, userIds,
        Seq("user_id"))).toMap

  /** Compact every store to its read-side fixpoint through the atomic
    * swap (VERDICT r18 task 3): the summary stores append one per-key
    * partial PER BATCH with read-side max reconstruction, so an
    * uncompacted long-running deployment's store read grows
    * O(batches x keys) — per-key maxima for last/valid2 and distinct
    * rows for supp2/supp3 restore O(keys). Purely a size optimization:
    * [[support2]]/[[support3]] and the next ingest's `readMax` are
    * unchanged by construction (max and distinct are idempotent), and
    * readers never see a half-written state.
    */
  def compact(spark: SparkSession, lastDir: String, valid2Dir: String,
              supp2Dir: String, supp3Dir: String,
              numFiles: Int = 4): Unit = {
    Stores.rewrite(spark, lastDir)(
      maxByKey(_, Seq("user_id", "type_a")).repartition(numFiles))
    Stores.rewrite(spark, valid2Dir)(
      maxByKey(_, Seq("user_id", "type_a", "type_b")).repartition(numFiles))
    Stores.compactDedup(spark, supp2Dir, Seq("user_id", "type_a", "type_b"),
      numFiles)
    Stores.compactDedup(spark, supp3Dir,
      Seq("user_id", "type_a", "type_b", "type_c"), numFiles)
  }

  /** Ordering-contract audit face (the [[MarkovIngest.orderViolations]]
    * discipline for the identical per-user event-time contract): the
    * batch events whose (tsec, event_id) do NOT strictly follow the
    * stored per-user frontier in `lastDir`, with the frontier they
    * collide with. Nonempty means this batch would silently undercount
    * support if ingested. Conservative: an at-least-once replay of an
    * already-ingested batch also shows up here (every replayed event
    * ties or precedes its own marker) — harmless for support
    * correctness, distinguishable by `tsec`/`event_id` equality with
    * the frontier.
    */
  def orderViolations(batch: DataFrame, lastDir: String): DataFrame = {
    val ev = batch.select(col("user_id"), col("event_type"),
      col("tsec").cast("long").as("tsec"),
      col("event_id").cast("long").as("event_id"))
    val stored = readMax(lastDir, Seq("user_id", "type_a"), ev
      .select(col("user_id"), col("event_type").as("type_a"),
        col("tsec").as("mts"), col("event_id").as("mid")))
    violationsAgainst(ev, stored)
  }

  /** [[orderViolations]] against an already-read per-(user, type)
    * summary — ingestBatch's loud guard reuses its `oldLast` read.
    */
  private def violationsAgainst(ev: DataFrame,
                                oldLast: DataFrame): DataFrame = {
    val frontier = oldLast.groupBy(col("user_id"))
      .agg(max(struct(col("mts").as("tsec"), col("mid").as("event_id")))
        .as("f"))
    ev.join(frontier, Seq("user_id"))
      .filter(struct(col("tsec"), col("event_id")) <= col("f"))
      .select(col("user_id"), col("event_type"), col("tsec"),
        col("event_id"), col("f.tsec").as("frontier_tsec"),
        col("f.event_id").as("frontier_event_id"))
  }

  /** Per-key maxima of an append-grown summary store: the appends are
    * per-batch maxima, so the read-side max reconstructs the true
    * latest occurrence under any replay interleaving.
    */
  private def readMax(dir: String, keys: Seq[String],
                      like: DataFrame): DataFrame =
    maxByKey(Stores.read(dir, like), keys)

  private def maxByKey(base: DataFrame, keys: Seq[String]): DataFrame =
    base.groupBy(keys.map(col): _*)
      .agg(max(struct(col("mts"), col("mid"))).as("m"))
      .select((keys.map(col) :+ col("m.mts").as("mts") :+
        col("m.mid").as("mid")): _*)

}
