package graft.queries

import graft.Tables
import graft.ops.Multimodal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Multimodal column queries: media metadata and features,
  * synthesized image/audio/video headers, the frame-sampling plan,
  * media near-duplicates and interleaved sequence packing.
  */
object MultimodalQueries {

  /** ALL-container header decode (mm_image_headers' superset, r13
    * verdict task 5): payloads synthesized per doc as spec-correct
    * container prefixes — the four image formats PLUS a WAV/RIFF file
    * (fmt + data chunks; audio parameters and data size planted from
    * fixture columns, chosen so duration_ms is integer-exact), a full
    * MP4 ftyp+moov(mvhd+trak/tkhd) video box tree (spec-sized 108/92-
    * byte v0 boxes, unity matrices, 16.16-fixed dimensions), an
    * audio-only M4A (moov with mvhd only, timescale 600 — dimensions
    * must come back null), and a non-media payload (must come back
    * "unknown"). The oracle states the planted values directly, so any
    * chunk-walk / box-size / endianness / fixed-point bug breaks the
    * match.
    */
  private def mediaHeaders(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val w = (col("n_chars") % 300 + 16).cast("int")
    val h = (col("doc_id") % 200 + 16).cast("int")
    def be(c: Column, hexDigits: Int) = lpad(hex(c), hexDigits, "0")
    def le16(c: Column) = {
      val p = lpad(hex(c), 4, "0")
      concat(substring(p, 3, 2), substring(p, 1, 2))
    }
    def le32(c: Column) = {
      val p = lpad(hex(c), 8, "0")
      concat(substring(p, 7, 2), substring(p, 5, 2),
        substring(p, 3, 2), substring(p, 1, 2))
    }
    val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
      be(w, 8), be(h, 8), lit("0806000000"))
    val gif = concat(lit("474946383961"), le16(w), le16(h), lit("00"))
    val bmp = concat(lit("424D"), lit("00" * 16), le32(w), le32(h))
    val jpg = concat(lit("FFD8FFE000104A46494600010100000100010000"),
      lit("FFC0001108"), be(h, 4), be(w, 4),
      lit("03011100021101031101FFD9"))
    // WAV: channels in {1,2}, sample rate 8-15 kHz (multiple of 1000
    // so data_size = tenths x byte_rate / 10 stays integer-exact),
    // 16-bit PCM; duration_ms = (doc_id % 50 + 1) x 100 by
    // construction. The data chunk declares its size but the payload
    // tail is absent — the truncated-crawl-file case the chunk walk
    // must tolerate (it skips by declared size, never reads payload).
    val ch = (col("doc_id") % 2 + 1).cast("int")
    val srK = (lit(8) + col("n_chars") % 8).cast("int") // sample rate / 1000
    val sr = (srK * 1000).cast("int")
    val byteRate = (sr * ch * 2).cast("int")
    val dataSize = ((col("doc_id") % 50 + 1) * srK * ch * 200).cast("int")
    val wav = concat(lit("52494646"), le32((dataSize + 36).cast("int")),
      lit("57415645"), lit("666D7420"), lit("10000000"), lit("0100"),
      le16(ch), le32(sr), le32(byteRate), le16((ch * 2).cast("int")),
      lit("1000"), lit("64617461"), le32(dataSize))
    // MP4 box tree constants: unity transform matrix + spec-sized v0
    // boxes (mvhd 108, tkhd 92, trak 100, moov 216 incl. trak / 116
    // audio-only, ftyp 20)
    val matrix = "000100000000000000000000000000000001000000000000" +
      "000000000000000040000000"
    val mp4DurMs = ((col("n_chars") % 600 + 1) * 10).cast("int")
    val mvhd = (timescaleHex: String, durUnits: Column) =>
      concat(lit("0000006C6D766864" + "00000000" + "00000000" +
        "00000000" + timescaleHex), be(durUnits, 8),
        lit("00010000" + "0100" + "00" * 10 + matrix + "00" * 24 +
          "00000002"))
    val tkhd = concat(lit("0000005C746B6864" + "00000007" + "00000000" +
      "00000000" + "00000001" + "00000000"), be(mp4DurMs, 8),
      lit("00" * 8 + "0000" + "0000" + "0000" + "0000" + matrix),
      be(w, 4), lit("0000"), be(h, 4), lit("0000"))
    val mp4 = concat(lit("0000001466747970" + "69736F6D" + "00000200" +
      "69736F6D"), lit("000000D86D6F6F76"),
      mvhd("000003E8", mp4DurMs), lit("000000647472616B"), tkhd)
    // audio-only M4A: classic timescale 600; duration units chosen so
    // duration_ms = (doc_id % 100 + 1) x 100 exactly
    val m4aUnits = ((col("doc_id") % 100 + 1) * 60).cast("int")
    val m4a = concat(lit("0000001466747970" + "4D344120" + "00000200" +
      "4D344120"), lit("000000746D6F6F76"), mvhd("00000258", m4aUnits))
    // non-media: 'zz' + the content digest bytes — no magic can match
    val junk = concat(lit("7A7A"), md5(col("text")))
    val payload = unhex(
      when(col("doc_id") % 8 === 0, png)
        .when(col("doc_id") % 8 === 1, gif)
        .when(col("doc_id") % 8 === 2, bmp)
        .when(col("doc_id") % 8 === 3, jpg)
        .when(col("doc_id") % 8 === 4, wav)
        .when(col("doc_id") % 8 === 5, mp4)
        .when(col("doc_id") % 8 === 6, junk)
        .otherwise(m4a))
    Multimodal.mediaHeaders(
      d.select(col("doc_id").as("media_id"), payload.as("media")))
  }

  val declared: Seq[Declared] = Seq(
    Declared("mm_media_meta", (s, dir) =>
      Multimodal.mediaMeta(
        Multimodal.documentsAsMedia(Tables.documents(s, dir))),
      // NOTE: the library's head_hex is BYTE-based (magic-number semantics);
      // DuckDB 1.0 cannot byte-slice a BLOB, so the oracle char-slices then
      // encodes — equivalent on this ASCII fixture corpus, and the
      // deliberate difference is documented here rather than weakening the
      // library to char semantics.
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS media_len,
        |  md5(text) AS media_md5,
        |  upper(hex(encode(substr(text, 1, 8)))) AS head_hex,
        |  'text/plain' AS media_type
        |FROM documents""".stripMargin),

    Declared("mm_features", (s, dir) =>
      Multimodal.fakeFeatures(
        Multimodal.documentsAsMedia(Tables.documents(s, dir))),
      {
        def f(i: Int) =
          s"round(CAST(strpos('0123456789abcdef', substr(md5(text), $i, 1)) - 1" +
            s" AS DOUBLE) / 15, 6) AS f$i"
        s"""SELECT doc_id AS media_id, ${f(1)}, ${f(2)}, ${f(3)}, ${f(4)}
           |FROM documents""".stripMargin
      }),

    // REAL image-header decode, oracle-checked end-to-end: payloads are
    // SYNTHESIZED per doc as spec-correct PNG/GIF/BMP/JPEG container
    // prefixes carrying dimensions derived from fixture columns (hex
    // building + unhex — the bytes are real), then parsed back by the
    // byte-level ImageHeaders walker; the oracle states the planted
    // dimensions directly, so any endianness/offset/segment-walk bug
    // breaks the match. The JPEG variant leads with a full APP0/JFIF
    // segment so the SOF scan is genuinely exercised.
    Declared("mm_image_headers", (s, dir) => {
      val d = Tables.documents(s, dir)
      val w = (col("n_chars") % 300 + 16).cast("int")
      val h = (col("doc_id") % 200 + 16).cast("int")
      def be(c: Column, hexDigits: Int) = lpad(hex(c), hexDigits, "0")
      def le16(c: Column) = {
        val p = lpad(hex(c), 4, "0")
        concat(substring(p, 3, 2), substring(p, 1, 2))
      }
      def le32(c: Column) = {
        val p = lpad(hex(c), 8, "0")
        concat(substring(p, 7, 2), substring(p, 5, 2),
          substring(p, 3, 2), substring(p, 1, 2))
      }
      val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
        be(w, 8), be(h, 8), lit("0806000000"))
      val gif = concat(lit("474946383961"), le16(w), le16(h), lit("00"))
      val bmp = concat(lit("424D"), lit("00" * 16), le32(w), le32(h))
      val jpg = concat(lit("FFD8FFE000104A46494600010100000100010000"),
        lit("FFC0001108"), be(h, 4), be(w, 4),
        lit("03011100021101031101FFD9"))
      val payload = unhex(
        when(col("doc_id") % 4 === 0, png)
          .when(col("doc_id") % 4 === 1, gif)
          .when(col("doc_id") % 4 === 2, bmp)
          .otherwise(jpg))
      Multimodal.imageMeta(
        d.select(col("doc_id").as("media_id"), payload.as("media")))
    },
      // the oracle states the PLANTED dimensions; the Spark side must
      // build the container bytes and parse them back to match
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |       WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
        |  CAST(n_chars % 300 + 16 AS INT) AS width,
        |  CAST(doc_id % 200 + 16 AS INT) AS height
        |FROM documents""".stripMargin),

    // every container family, planted and decoded (see [[mediaHeaders]])
    Declared("mm_media_headers", mediaHeaders,
      // planted values for every container family; the Spark side must
      // synthesize the byte trees and walk them back to match
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 8 AS INT)
        |       WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
        |       WHEN 3 THEN 'jpeg' WHEN 4 THEN 'wav' WHEN 5 THEN 'mp4'
        |       WHEN 6 THEN 'unknown' ELSE 'mp4' END AS format,
        |  CASE WHEN doc_id % 8 IN (0, 1, 2, 3, 5)
        |       THEN CAST(n_chars % 300 + 16 AS INT) END AS width,
        |  CASE WHEN doc_id % 8 IN (0, 1, 2, 3, 5)
        |       THEN CAST(doc_id % 200 + 16 AS INT) END AS height,
        |  CASE WHEN doc_id % 8 = 4
        |       THEN CAST(doc_id % 2 + 1 AS INT) END AS channels,
        |  CASE WHEN doc_id % 8 = 4
        |       THEN CAST(8000 + (n_chars % 8) * 1000 AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 8 = 4 THEN CAST((doc_id % 50 + 1) * 100 AS BIGINT)
        |       WHEN doc_id % 8 = 5 THEN CAST((n_chars % 600 + 1) * 10 AS BIGINT)
        |       WHEN doc_id % 8 = 7 THEN CAST((doc_id % 100 + 1) * 100 AS BIGINT)
        |       END AS duration_ms
        |FROM documents""".stripMargin),

    // video frame-sampling plan over the SAME synthesized mp4 headers:
    // the decode work-list (media_id, sample_ms, frame_idx) at 500 ms
    // steps across each clip's parsed duration — the oracle states the
    // planted durations in closed form and replays the calendar
    Declared("mm_frame_sample_plan", (s, dir) =>
      Multimodal.frameSamplePlan(
        mediaHeaders(s, dir), everyMs = 500L),
      // frame plan only for REAL video (doc_id % 8 = 5): the audio-only
      // m4a rows share the container format but carry no video track
      """WITH v AS (SELECT doc_id AS media_id,
        |             CAST((n_chars % 600 + 1) * 10 AS BIGINT) AS duration_ms
        |           FROM documents WHERE doc_id % 8 = 5)
        |SELECT media_id, duration_ms,
        |  CAST(u.s AS BIGINT) AS sample_ms,
        |  CAST(floor(CAST(u.s AS DOUBLE) / 500) AS INT) AS frame_idx
        |FROM v, unnest(generate_series(0, duration_ms, 500)) AS u(s)""".stripMargin),

    // embedding-join near-dup face: media pairs whose joined vectors
    // (media_id = vec_id) are label-blocked cosine near-dups, with both
    // content digests attached
    Declared("mm_neardup_pairs", (s, dir) =>
      Multimodal.nearDupPairs(
        Multimodal.documentsAsMedia(Tables.documents(s, dir)),
        Tables.embeddings(s, dir), threshold = 0.35),
      s"""WITH m AS (SELECT doc_id AS media_id, md5(text) AS media_md5
         |           FROM documents),
         |p AS (SELECT vec_a AS media_a, vec_b AS media_b,
         |             round(sim, 6) AS cosine FROM (
         |        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |               ${cosSql("a.embedding", "b.embedding")} AS sim
         |        FROM embeddings a JOIN embeddings b
         |          ON a.label = b.label AND a.vec_id < b.vec_id
         |        JOIN m ma ON a.vec_id = ma.media_id
         |        JOIN m mb ON b.vec_id = mb.media_id)
         |      WHERE sim >= 0.35)
         |SELECT media_a, media_b, cosine,
         |       ma.media_md5 AS md5_a, mb.media_md5 AS md5_b
         |FROM p JOIN m ma ON p.media_a = ma.media_id
         |       JOIN m mb ON p.media_b = mb.media_id""".stripMargin),

    // interleaved multimodal packing: text tokens + image-patch slots
    // (1 patch per 256 payload bytes) count against ONE combined
    // per-bin budget; docs whose id % 3 == 0 carry no media and pack
    // text-only — the vision-language training-layout step
    Declared("mm_interleaved_pack", (s, dir) =>
      Multimodal.interleavedPack(Tables.documents(s, dir),
        Multimodal.documentsAsMedia(Tables.documents(s, dir))
          .filter(col("media_id") % 3 =!= 0),
        nShards = 8, capacity = 512),
      {
        val idHex = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 8)
        s"""WITH t AS (SELECT doc_id,
           |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
           |             x -> x <> '')) AS BIGINT) AS n_tokens,
           |    CASE WHEN doc_id % 3 = 0 THEN CAST(0 AS BIGINT)
           |         ELSE CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE)
           |                        / 256) AS BIGINT) END AS n_patches
           |  FROM documents),
           |sh AS (SELECT doc_id, n_tokens, n_patches,
           |         n_tokens + n_patches AS cost,
           |         CAST((CAST($idHex AS BIGINT) % 100) % 8 AS INT) AS shard
           |       FROM t),
           |cb AS (SELECT *, CAST(coalesce(sum(cost) OVER (PARTITION BY shard
           |         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           |         AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           |       FROM sh)
           |SELECT doc_id, n_tokens, n_patches, cost, shard, cum_before,
           |  shard || ':' || CAST(floor(cum_before / 512) AS BIGINT) AS bin
           |FROM cb""".stripMargin
      }),

    // the ViT face of interleaved packing, end-to-end: spec-correct PNG
    // payloads synthesized with planted dims (the mm_image_headers
    // convention) -> REAL byte-level header decode -> patch grid
    // ceil(w/14)*ceil(h/14) -> combined token+patch packing. The oracle
    // states the planted dims in closed form, so a header-walk or
    // patch-arithmetic bug breaks the match.
    Declared("mm_interleaved_pack_vit", (s, dir) => {
      val d = Tables.documents(s, dir)
      val w = (col("n_chars") % 300 + 16).cast("int")
      val h = (col("doc_id") % 200 + 16).cast("int")
      def be(c: Column, hexDigits: Int) = lpad(hex(c), hexDigits, "0")
      val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
        be(w, 8), be(h, 8), lit("0806000000"))
      val media = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("media_id"), unhex(png).as("media"))
      val patches = Multimodal.imageMeta(media)
        .select(col("media_id").as("doc_id"),
          (ceil(col("width").cast("double") / 14) *
            ceil(col("height").cast("double") / 14))
            .cast("long").as("n_patches"))
      Multimodal.interleavedPackWith(d, patches, nShards = 8,
        capacity = 768)
    },
      {
        val idHex = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 8)
        s"""WITH t AS (SELECT doc_id,
           |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
           |             x -> x <> '')) AS BIGINT) AS n_tokens,
           |    CASE WHEN doc_id % 3 = 0 THEN CAST(0 AS BIGINT)
           |         ELSE CAST(ceil(((n_chars % 300) + 16) / 14.0) *
           |              ceil(((doc_id % 200) + 16) / 14.0) AS BIGINT)
           |    END AS n_patches
           |  FROM documents),
           |sh AS (SELECT doc_id, n_tokens, n_patches,
           |         n_tokens + n_patches AS cost,
           |         CAST((CAST($idHex AS BIGINT) % 100) % 8 AS INT) AS shard
           |       FROM t),
           |cb AS (SELECT *, CAST(coalesce(sum(cost) OVER (PARTITION BY shard
           |         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           |         AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           |       FROM sh)
           |SELECT doc_id, n_tokens, n_patches, cost, shard, cum_before,
           |  shard || ':' || CAST(floor(cum_before / 768) AS BIGINT) AS bin
           |FROM cb""".stripMargin
      })
  )
}
