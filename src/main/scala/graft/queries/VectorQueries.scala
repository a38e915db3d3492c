package graft.queries

import graft.Tables
import graft.ops.Similarity
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Vector-index maintenance queries over `embeddings`: quantization
  * codes, learned codebooks and centroids, index statistics, drift,
  * vetting and decontamination.
  */
object VectorQueries {

  val declared: Seq[Declared] = Seq(
    // the STREAMING index-maintenance face driven end-to-end as a
    // declared query (r18 verdict task 8; the events_seq_gap_stream
    // convention for store-writing capstones): freeze the seed codebook,
    // ingest the corpus in two batches through IvfIngest (frozen-codebook
    // map-side argmax assignment, appended to the stored index), then
    // return the codebook-drift balance audit — per-cell occupancy,
    // corpus share, and the max/mean skew ratio a retrain decision
    // reads. The oracle restates the occupancy arithmetic over the SAME
    // assignment (DuckDB replays the argmax against the %50 seed
    // centroids), so the ingest→store→audit path is hash-gated, not
    // just spec'd.
    Declared("vec_ivf_drift", (s, dir) => {
      // per-invocation path: Bench's re-time sampling re-evaluates query
      // fns, and a shared store would race concurrent evaluations
      val base =
        graft.queries.ParityQueries.scratchInvocation("vec_ivf_drift")
      val (cbDir, idxDir) = (s"$base/cb", s"$base/idx")
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      graft.streaming.IvfIngest.freezeCodebook(seedCb(s, dir), cbDir)
      graft.streaming.IvfIngest.ingestBatch(
        e.filter(col("vec_id") % 2 === 0), cbDir, idxDir)
      graft.streaming.IvfIngest.ingestBatch(
        e.filter(col("vec_id") % 2 === 1), cbDir, idxDir)
      graft.streaming.IvfIngest.balanceAudit(s, idxDir)
    },
      // replays IvfIngest end-to-end: assignment against the frozen %50
      // seed codebook is deterministic and replay-deduped, so the
      // accumulated stored index is row-identical to one batch ivfAssign
      // over the corpus — the audit arithmetic restated over that relation
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, centroid_id FROM (
         |          SELECT e.vec_id, c.centroid_id,
         |            row_number() OVER (PARTITION BY e.vec_id
         |              ORDER BY ${cosSql("e.embedding", "c.ce")} DESC,
         |                       c.centroid_id) AS rn
         |          FROM embeddings e, c) WHERE rn = 1),
         |occ AS (SELECT centroid_id, count(*) AS n_vectors
         |        FROM asg GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS n,
         |          count(*) AS cells, max(n_vectors) AS mx FROM occ)
         |SELECT centroid_id, n_vectors,
         |  round(CAST(n_vectors AS DOUBLE) / n, 6) AS share,
         |  round(CAST(mx AS DOUBLE) * cells / n, 6) AS skew_ratio
         |FROM occ, tot""".stripMargin),

    // PQ encoding: 4 subspaces x 16 dims, codes = argmin-L2 sub-centroid
    // from the deterministic %50 seed codebook — the stored PQ index is
    // m small ints per vector (~60x smaller than float32)
    Declared("vec_pq_codes", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.pqCodes(e,
        Similarity.pqCodebook(e, m = 4, dim = 64, centroidMod = 50),
        m = 4, dim = 64)
    },
      // PQ CTE block shared by the two PQ oracles: codebook = seed
      // subvectors (4 subspaces x 16 dims), codes = argmin of the SAME
      // x.x - 2 x.c + c.c double composition Spark evaluates, rounded to
      // 6 places before the argmin (ties on code id)
      s"""WITH subs AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub),
         |cb AS (SELECT s.sub, e.vec_id AS code,
         |              e.embedding[s.sub*16+1 : s.sub*16+16] AS ce
         |       FROM embeddings e, subs s WHERE e.vec_id % 50 = 0),
         |xs AS (SELECT e.vec_id, s.sub,
         |              e.embedding[s.sub*16+1 : s.sub*16+16] AS xe
         |       FROM embeddings e, subs s),
         |d AS (SELECT x.vec_id, x.sub, c.code,
         |             round(${dotSql("x.xe", "x.xe")}
         |               - 2.0 * ${dotSql("x.xe", "c.ce")}
         |               + ${dotSql("c.ce", "c.ce")}, 6) AS d2
         |      FROM xs x JOIN cb c ON x.sub = c.sub)
         |SELECT vec_id, sub, code FROM (
         |  SELECT vec_id, sub, code,
         |         row_number() OVER (PARTITION BY vec_id, sub
         |                            ORDER BY d2, code) AS rn FROM d)
         |WHERE rn = 1""".stripMargin),

    // LEARNED per-subspace PQ codebooks (2 Lloyd steps per subspace,
    // 1e-6 grid) — exploded for scalar-row oracle comparison
    Declared("vec_pq_codebook_learned", (s, dir) =>
      Similarity.pqCodebookLearned(Tables.embeddings(s, dir), m = 4,
        dim = 64, centroidMod = 50, maxIters = 2)
        .select(col("sub"), col("code"),
          posexplode(col("ce")).as(Seq("pos", "v")))
        .select(col("sub"), col("code"),
          (col("pos") + 1).cast("int").as("dim"), col("v")),
      // learned PQ codebooks, exploded (1-based dim like vec_centroids)
      s"""WITH subs AS (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub),
         |xs AS (SELECT e.vec_id, s.sub,
         |              e.embedding[s.sub*16+1 : s.sub*16+16] AS xe
         |       FROM embeddings e, subs s),
         |${pqLearnedCbDef(2)}
         |SELECT CAST(sub AS INT) AS sub, CAST(code AS BIGINT) AS code,
         |       CAST(i AS INT) AS dim, ce[i] AS v
         |FROM pcb2, unnest(range(1, len(ce)+1)) t(i)""".stripMargin),

    // the int8-quantized index itself (4x smaller than float32), exploded
    // for scalar oracle comparison — quantization is exact IEEE/integer
    // math, so sketches are bit-identical across engines
    Declared("vec_q8", (s, dir) =>
      Similarity.quantize(Tables.embeddings(s, dir))
        .select(col("vec_id"), round(col("q_scale"), 6).as("q_scale"),
          posexplode(col("q8")).as(Seq("i", "qv")))
        .select(col("vec_id"), col("q_scale"), (col("i") + 1).as("dim"),
          col("qv").cast("long").as("q")),
      s"""WITH $Q8Ctes
         |SELECT vec_id, round(sc, 6) AS q_scale, i AS dim, q[i] AS q
         |FROM qv, unnest(range(1, len(q)+1)) t(i)""".stripMargin),

    // BINARY sign-bit quantization: 64 dims -> two packed bigint words
    // (the 32x rung below int8)
    Declared("vec_q1", (s, dir) =>
      Similarity.quantizeBinary(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("b1"), col("b2")),
      """SELECT vec_id,
        |  CAST(list_aggregate(list_transform(range(1, 33),
        |    i -> CASE WHEN embedding[i] > 0
        |              THEN CAST(1 AS BIGINT) << (i - 1)
        |              ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS b1,
        |  CAST(list_aggregate(list_transform(range(33, 65),
        |    i -> CASE WHEN embedding[i] > 0
        |              THEN CAST(1 AS BIGINT) << (i - 33)
        |              ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS b2
        |FROM embeddings""".stripMargin),

    // IVF centroid training step: element-wise mean embedding per bucket
    // via the custom TypedImperativeAggregate (exploded for scalar
    // row-level oracle comparison; 1-based dim to match SQL indexing).
    Declared("vec_centroids", (s, dir) =>
      Similarity.centroids(Tables.embeddings(s, dir), "label")
        .select(col("label"), posexplode(col("centroid")).as(Seq("i", "v")))
        .select(col("label"), (col("i") + 1).as("dim"),
          round(col("v"), 6).as("avg_val")),
      """SELECT label, CAST(i AS INT) AS dim,
        |       round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS avg_val
        |FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
        |GROUP BY 1, 2""".stripMargin),

    // IVF index-health audit over the stored seed assignment: per-cell
    // membership + load factor (hot cells = serving tail latency)
    Declared("vec_index_stats", (s, dir) =>
      Similarity.ivfIndexStats(ivfAsgSeed(s, dir)),
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
         |      FROM embeddings WHERE vec_id % 50 = 0),
         |asg AS (${asgSql("c")}),
         |g AS (SELECT centroid_id, count(*) AS n_vecs FROM asg GROUP BY 1)
         |SELECT centroid_id, n_vecs,
         |  round(CAST(n_vecs AS DOUBLE) /
         |    (CAST(sum(n_vecs) OVER () AS DOUBLE) / count(*) OVER ()), 6)
         |    AS load_factor
         |FROM g""".stripMargin),

    // embedding-space drift between two releases (different crawl
    // subsets): per-label centroid L2 shift + member counts
    Declared("vec_label_drift", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.centroidDrift(e.filter(col("vec_id") % 13 =!= 0),
        e.filter(col("vec_id") % 17 =!= 0), "label")
    },
      """WITH oc AS (SELECT label, list(av ORDER BY i) AS c FROM (
        |    SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS av
        |    FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
        |    WHERE vec_id % 13 <> 0 GROUP BY 1, 2) GROUP BY 1),
        |onn AS (SELECT label, count(*) AS n_old FROM embeddings
        |        WHERE vec_id % 13 <> 0 GROUP BY 1),
        |nc AS (SELECT label, list(av ORDER BY i) AS c FROM (
        |    SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS av
        |    FROM embeddings, unnest(range(1, len(embedding)+1)) t(i)
        |    WHERE vec_id % 17 <> 0 GROUP BY 1, 2) GROUP BY 1),
        |nnn AS (SELECT label, count(*) AS n_new FROM embeddings
        |        WHERE vec_id % 17 <> 0 GROUP BY 1),
        |o AS (SELECT oc.label, oc.c, onn.n_old FROM oc JOIN onn USING (label)),
        |n AS (SELECT nc.label, nc.c, nnn.n_new FROM nc JOIN nnn USING (label)),
        |j AS (SELECT o.label AS lo, n.label AS ln, o.n_old, n.n_new,
        |        list_transform(range(1, len(o.c)+1),
        |                       i -> o.c[i] - n.c[i]) AS d
        |      FROM o FULL OUTER JOIN n ON o.label = n.label)
        |SELECT coalesce(lo, ln) AS label, n_old, n_new,
        |  CASE WHEN lo IS NULL OR ln IS NULL THEN NULL
        |       ELSE round(sqrt(round(list_dot_product(d, d), 6)), 6)
        |  END AS drift
        |FROM j""".stripMargin),

    // embedding data-quality vet: the garbage gate before any indexing
    // run (dimensionality / finiteness / nonzero-norm invariants; the
    // fixture is clean, so every row must come back ok=true — planted
    // garbage is spec-covered in SimilaritySpec)
    Declared("vec_vet", (s, dir) =>
      Similarity.vetEmbeddings(Tables.embeddings(s, dir), dim = 64),
      s"""SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
         |  CAST(len(list_filter(embedding,
         |    x -> isnan(x) OR isinf(x) OR x IS NULL)) AS INT) AS n_nonfinite,
         |  (${dotSql("embedding", "embedding")} = 0) AS zero_norm,
         |  (len(embedding) = 64
         |   AND len(list_filter(embedding,
         |     x -> isnan(x) OR isinf(x) OR x IS NULL)) = 0
         |   AND ${dotSql("embedding", "embedding")} <> 0) AS ok
         |FROM embeddings""".stripMargin),

    // EMBEDDING-SPACE decontamination (the third rung after exact grams
    // and fuzzy MinHash): corpus vectors whose cosine against any
    // benchmark vector (vec_id % 20 == 9 plays the eval set) reaches
    // 0.35 — paraphrased leakage that shares no surface form. Benchmark
    // broadcast, corpus scanned once, never self-joined.
    Declared("vec_decon_report", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.embeddingContaminationReport(e,
        e.filter(col("vec_id") % 20 === 9), threshold = 0.35)
    },
      // embedding-space decon: best benchmark match per contaminated
      // vector — cosine rounded BEFORE ranking (both engines rank the
      // identical rounded doubles), ties to the lowest benchmark id
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding AS be
         |           FROM embeddings WHERE vec_id % 20 = 9),
         |p AS (SELECT e.vec_id, b.bench_id,
         |        round(${cosSql("e.embedding", "b.be")}, 6) AS cosine
         |      FROM embeddings e, b
         |      WHERE ${cosSql("e.embedding", "b.be")} >= 0.35),
         |sel AS (SELECT vec_id, bench_id, cosine,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cosine DESC, bench_id) AS rn,
         |          count(*) OVER (PARTITION BY vec_id) AS n_matches
         |        FROM p)
         |SELECT vec_id, bench_id, cosine,
         |       CAST(n_matches AS BIGINT) AS n_matches
         |FROM sel WHERE rn = 1""".stripMargin),

    Declared("vec_decon_clean", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.decontaminateByEmbedding(e,
        e.filter(col("vec_id") % 20 === 9), threshold = 0.35)
        .select(col("vec_id"), col("label"))
    },
      s"""WITH b AS (SELECT vec_id AS bench_id, embedding AS be
         |           FROM embeddings WHERE vec_id % 20 = 9),
         |fl AS (SELECT DISTINCT e.vec_id FROM embeddings e, b
         |       WHERE ${cosSql("e.embedding", "b.be")} >= 0.35)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM fl)""".stripMargin),

    // one Lloyd iteration from the deterministic seed codebook (exploded
    // for scalar-row oracle comparison)
    Declared("vec_kmeans_iter", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.kmeansIterate(e, e.filter(col("vec_id") % 50 === 0))
        .select(col("centroid_id"), posexplode(col("centroid")).as(Seq("i", "v")))
        .select(col("centroid_id"), (col("i") + 1).as("dim"),
          round(col("v"), 6).as("avg_val"))
    },
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS ce
         |           FROM embeddings WHERE vec_id % 50 = 0),
         |asg AS (SELECT vec_id, embedding, centroid_id FROM (
         |          SELECT e.vec_id, e.embedding, c.centroid_id,
         |            row_number() OVER (PARTITION BY e.vec_id
         |              ORDER BY ${cosSql("e.embedding", "c.ce")} DESC,
         |                       c.centroid_id) AS rn
         |          FROM embeddings e, c) WHERE rn = 1)
         |SELECT centroid_id, CAST(i AS INT) AS dim,
         |       round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS avg_val
         |FROM asg, unnest(range(1, len(embedding)+1)) t(i)
         |GROUP BY 1, 2""".stripMargin)
  )
}
