package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media (image/audio/video) travels as an
  * opaque `binary` column with typed metadata alongside; decode /
  * feature-extraction runs batch-wise over partitions.
  *
  * The decode step itself is a STUB — this container ships no image/audio
  * codecs — implemented as a deterministic fake (md5-derived bytes) so the
  * Spark-side plumbing (schema, batch shape, partitioning, null handling)
  * is real and tested. Swap [[MediaDecoder.decode]] for a JNI/FFI codec
  * call in production; nothing else changes.
  *
  * Scale posture: binary payloads never shuffle here — metadata extraction
  * and feature extraction are map-only projections; downstream analytics
  * (dedup by content hash, ANN over features) operate on the small
  * sketches, exactly like [[Dedup]]/[[Similarity]] over text/embeddings.
  */
object Multimodal {

  /** Wrap the `documents` fixture as a media table: the UTF-8 bytes of
    * `text` play the opaque payload (derived from driver fixtures, not
    * synthesized data; real deployments read binary parquet/blob columns
    * the same way).
    */
  def documentsAsMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("media"),
      lit("text/plain").as("media_type"))

  /** Map-only metadata over the payload: byte length, content digest, and
    * a head-bytes hex sample (magic-number sniffing at scale).
    */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(col("media_id"),
      octet_length(col("media")).as("media_len"),
      md5(col("media")).as("media_md5"),
      upper(hex(expr("substring(media, 1, 8)"))).as("head_hex"),
      col("media_type"))

  /** Deterministic fake "feature extraction" as a pure projection: 4
    * pseudo-features derived from the content digest's hex digits,
    * normalized to [0, 1]. A real extractor returns `array<float>` from a
    * model; the pipeline shape (map-only, per-row, no shuffle) is the same.
    */
  def fakeFeatures(media: DataFrame): DataFrame = {
    def f(i: Int) = round(
      conv(substring(md5(col("media")), i, 1), 16, 10).cast("double") / 15.0,
      6).as(s"f$i")
    media.select(col("media_id"), f(1), f(2), f(3), f(4))
  }

  /** REAL image-container header decode (not a stub): PNG / GIF / BMP /
    * JPEG magic-number detection plus pixel dimensions parsed straight
    * from the container bytes — pure byte arithmetic, no codec library
    * (headers are spec-fixed offsets; only FRAME decode needs a codec,
    * and that remains [[MediaDecoder]]'s swap point). Runs in the same
    * `mapPartitions` batch shape as [[decodeFeatures]]: many rows in,
    * explicit schema out, map-only — payload bytes never shuffle.
    * Unknown/truncated payloads yield format "unknown" with null dims
    * (audit rows, not errors — a 100 TB crawl always carries garbage).
    */
  def imageMeta(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.map { r =>
        val (fmt, w, h) = ImageHeaders.parse(r.getAs[Array[Byte]]("media"))
        Row(r.getLong(0), fmt, w.map(Int.box).orNull, h.map(Int.box).orNull)
      }
    }(enc)
  }

  /** ALL-container header decode (r13 verdict task 5 — the superset of
    * [[imageMeta]]): PNG/GIF/BMP/JPEG dimensions PLUS WAV/RIFF audio
    * parameters (channels, sample rate, duration from the data-chunk
    * size) and MP4/ISO-BMFF movie metadata (duration via the `moov/mvhd`
    * timescale, video dimensions via the first `trak/tkhd` box walk).
    * Same batch shape as [[imageMeta]]: `mapPartitions`, explicit schema,
    * map-only — payload bytes never shuffle. Unknown/truncated payloads
    * yield format "unknown" with null fields (audit rows, not errors).
    */
  def mediaHeaders(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      rows.map { r =>
        val h = MediaHeaders.parse(r.getAs[Array[Byte]]("media"))
        Row(r.getLong(0), h.format,
          h.width.map(Int.box).orNull, h.height.map(Int.box).orNull,
          h.channels.map(Int.box).orNull,
          h.sampleRate.map(Int.box).orNull,
          h.durationMs.map(Long.box).orNull)
      }
    }(enc)
  }

  /** Frame-sampling PLAN for video media: one row per (media_id,
    * sample_ms, frame_idx) at `everyMs` steps across the parsed
    * duration — the decode work-list a production pipeline hands its
    * codec stage. The decode itself is environment-bound (no codecs in
    * this container — the stubbed step, per SURVEY §2.6); the Spark
    * side (header parse -> calendar of timestamps -> explode) is the
    * real distributed plumbing and is oracle-gated in closed form.
    * Per-row fan-out is duration/everyMs — bounded by clip length,
    * never by corpus size.
    */
  def frameSamplePlan(headers: DataFrame, everyMs: Long): DataFrame = {
    require(everyMs > 0, s"everyMs must be positive, got $everyMs")
    headers
      // width present = a video track exists: audio-only M4A parses as
      // the same ISO-BMFF 'mp4' container and must not be frame-sampled
      .filter(col("format") === "mp4" && col("width").isNotNull &&
        col("duration_ms").isNotNull)
      .select(col("media_id"), col("duration_ms"),
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs)))
          .as("sample_ms"))
      .withColumn("frame_idx",
        floor(col("sample_ms") / everyMs).cast("int"))
  }

  /** Embedding-join near-dup face: media items whose JOINED embedding
    * vectors (`media_id` = `vec_id` — the cross-modal key a production
    * pipeline carries from its encoder run) are near-duplicates, with
    * both content digests attached — the relation a multimodal dedup
    * review consumes ("these two media payloads embed alike; here is
    * what they hash as"). The pair search is the label-blocked cosine
    * join ([[Similarity.blockedNearDupPairs]] — never all-pairs), with
    * the hot-bucket backstop ON by default (`maxBucketSize`): a
    * degenerate label bucket (media flood, collapsed cell) is capped
    * loudly instead of going quadratic — the same posture as
    * [[Dedup.nearDupKeepFirst]]'s capped call sites. Only media-backed
    * vectors participate; the digest attach joins the HIT-sized pair
    * relation against the (id, md5) sketch, so the payload bytes
    * themselves never shuffle.
    */
  def nearDupPairs(media: DataFrame, embeddings: DataFrame,
                   threshold: Double, maxBucketSize: Int = 4096): DataFrame = {
    val m = media.select(col("media_id"), md5(col("media")).as("media_md5"))
    val vecs = embeddings.select("vec_id", "embedding", "label")
      .join(m.select(col("media_id")),
        embeddings("vec_id") === col("media_id"))
      .drop("media_id")
    val pairs = Similarity.blockedNearDupPairs(vecs, "label", threshold,
      maxBucketSize)
    pairs
      .join(m.select(col("media_id"), col("media_md5").as("md5_a")),
        pairs("vec_a") === col("media_id")).drop("media_id")
      .join(m.select(col("media_id"), col("media_md5").as("md5_b")),
        pairs("vec_b") === col("media_id")).drop("media_id")
      .select(col("vec_a").as("media_a"), col("vec_b").as("media_b"),
        col("cosine"), col("md5_a"), col("md5_b"))
  }

  /** Interleaved multimodal sequence packing — the layout step of a
    * vision-language training pipeline: each document's TEXT tokens and
    * its attached media's IMAGE-PATCH placeholders count against ONE
    * combined per-bin budget (a ViT consumes `ceil(bytes/patchBytes)`
    * patch slots here; swap the patch rule for `ceil(w/14)*ceil(h/14)`
    * over [[imageMeta]] dims when real image containers flow through —
    * the packing is agnostic to where `n_patches` comes from).
    *
    * Bin assignment is EXACTLY [[graft.ops.TextAnalysis.packBinsSharded]]'s
    * running-total rule (bin = floor(preceding cumulative cost /
    * capacity), windows partitioned per shard so every shard packs as an
    * independent parallel task), applied to the combined cost instead of
    * the token count. Documents without media pack as text-only
    * (0 patches) — the interleaved corpus is a superset, not a filter.
    *
    * Scale posture: the payload reduces to `octet_length` MAP-SIDE
    * before anything shuffles (media bytes never move); the doc↔media
    * join is id-keyed on fixed-width rows; then one per-shard window.
    */
  def interleavedPack(documents: DataFrame, media: DataFrame,
                      nShards: Int, capacity: Long,
                      patchBytes: Int = 256): DataFrame =
    interleavedPackWith(documents,
      media.select(col("media_id").as("doc_id"),
        ceil(octet_length(col("media")).cast("double") / patchBytes)
          .cast("long").as("n_patches")),
      nShards, capacity)

  /** [[interleavedPack]] over a PRECOMPUTED per-document patch relation
    * (`doc_id`, `n_patches`) — the face a real ViT pipeline uses, where
    * the patch grid comes from parsed image dimensions
    * (`ceil(w/p) * ceil(h/p)` over [[imageMeta]]) rather than a byte
    * heuristic. Same combined-budget running-total packing; documents
    * absent from the patch relation pack text-only.
    */
  def interleavedPackWith(documents: DataFrame, patches: DataFrame,
                          nShards: Int, capacity: Long): DataFrame = {
    val costed = documents.select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => t =!= ""))
          .cast("long").as("n_tokens"))
      .join(patches.select(col("doc_id"), col("n_patches")),
        Seq("doc_id"), "left")
      .withColumn("n_patches", coalesce(col("n_patches"), lit(0L)))
      .withColumn("cost", col("n_tokens") + col("n_patches"))
      .withColumn("shard",
        (Dedup.hashBucket(col("doc_id")) % nShards).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    costed
      .withColumn("cum_before", coalesce(sum(col("cost")).over(w), lit(0L)))
      .withColumn("bin", concat_ws(":", col("shard"),
        floor(col("cum_before") / capacity).cast("long")))
  }

  /** The batch decode path: partition-wise iteration with an explicit
    * output schema — the Scala analogue of `mapInPandas` (same batch
    * shape: many rows in, many rows out, schema declared up front).
    * Runs [[MediaDecoder.decode]] per row; a real codec would amortize
    * model/codec init per partition exactly here.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("feature", ArrayType(FloatType), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("media_id", "media").mapPartitions { rows =>
      val decoder = MediaDecoder.open() // per-partition init, not per-row
      rows.map { r =>
        val (frames, feat) = decoder.decode(r.getAs[Array[Byte]]("media"))
        Row(r.getLong(0), frames, feat)
      }
    }(enc)
  }
}

/** Byte-level image-container header parsers — the spec-fixed fields
  * (magic number, pixel dimensions) of the four ubiquitous formats.
  * Pure functions over the payload prefix; no codec, no allocation.
  */
object ImageHeaders {
  private[ops] def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private[ops] def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private[ops] def le16(b: Array[Byte], i: Int): Int = (u8(b, i + 1) << 8) | u8(b, i)
  private[ops] def be32(b: Array[Byte], i: Int): Int =
    (be16(b, i) << 16) | be16(b, i + 2)
  private[ops] def le32(b: Array[Byte], i: Int): Int =
    (le16(b, i + 2) << 16) | le16(b, i)

  private val PngMagic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** (format, width, height); ("unknown", None, None) for anything not
    * parseable — including truncated buffers and nulls.
    */
  def parse(b: Array[Byte]): (String, Option[Int], Option[Int]) = {
    if (b == null || b.length < 2) return ("unknown", None, None)
    // PNG: 8-byte magic, IHDR chunk first (per spec): width/height BE32
    // at byte 16/20
    if (b.length >= 24 && PngMagic.indices.forall(i => u8(b, i) == PngMagic(i))
        && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      return ("png", Some(be32(b, 16)), Some(be32(b, 20)))
    // GIF87a/GIF89a: logical screen size LE16 at byte 6/8
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      return ("gif", Some(le16(b, 6)), Some(le16(b, 8)))
    // BMP: 'BM', BITMAPINFOHEADER width/height LE32 at byte 18/22
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      return ("bmp", Some(le32(b, 18)), Some(math.abs(le32(b, 22))))
    // JPEG: FFD8, then walk marker segments to the first SOFn frame
    // header (height BE16 at +5, width BE16 at +7); skips APPn/COM/DQT…
    if (u8(b, 0) == 0xff && u8(b, 1) == 0xd8) {
      var i = 2
      while (i + 9 < b.length) {
        if (u8(b, i) != 0xff) return ("jpeg", None, None) // desynced
        val m = u8(b, i + 1)
        if (m == 0xff) { i += 1 }                          // fill byte
        else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2
        else if (m == 0xd9 || m == 0xda) return ("jpeg", None, None)
        else if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return ("jpeg", Some(be16(b, i + 7)), Some(be16(b, i + 5)))
        else i += 2 + be16(b, i + 2)
      }
      return ("jpeg", None, None)
    }
    ("unknown", None, None)
  }
}

/** Byte-level AUDIO/VIDEO container header parsers, extending the
  * [[ImageHeaders]] method to WAV/RIFF ("RIFF....WAVE" + `fmt `/`data`
  * chunk walk, Microsoft RIFF spec) and MP4/ISO-BMFF (ISO 14496-12 box
  * walk: `ftyp` magic, `moov/mvhd` for timescale+duration, first
  * `trak/tkhd` for 16.16-fixed video dimensions). Pure prefix
  * arithmetic over spec-fixed offsets; only SAMPLE decode needs a codec
  * (the [[MediaDecoder]] swap point). Declared-but-absent payload tails
  * (truncated crawl files) parse fine: the walkers trust size fields to
  * SKIP, never to read past the buffer.
  */
object MediaHeaders {
  import ImageHeaders.{u8, le16, le32, be32}

  final case class Header(format: String,
                          width: Option[Int] = None,
                          height: Option[Int] = None,
                          channels: Option[Int] = None,
                          sampleRate: Option[Int] = None,
                          durationMs: Option[Long] = None)

  private def fourcc(b: Array[Byte], i: Int): String =
    if (i + 4 > b.length) "" else new String(b, i, 4, "ISO-8859-1")

  /** Superset dispatch: images via [[ImageHeaders.parse]], then WAV,
    * then MP4; "unknown" with all-null fields otherwise.
    */
  def parse(b: Array[Byte]): Header = {
    if (b == null || b.length < 2) return Header("unknown")
    if (fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "WAVE") return parseWav(b)
    if (fourcc(b, 4) == "ftyp") return parseMp4(b)
    ImageHeaders.parse(b) match {
      case ("unknown", _, _) => Header("unknown")
      case (fmt, w, h) => Header(fmt, width = w, height = h)
    }
  }

  /** WAV: chunk walk from byte 12 — `fmt ` gives channels (LE16 at
    * payload+2), sample rate (LE32 at +4) and byte rate (LE32 at +8);
    * `data` gives the payload size, so duration_ms = size x 1000 /
    * byte_rate (exact long division). Chunks are word-aligned (odd sizes
    * pad one byte, per spec).
    */
  private def parseWav(b: Array[Byte]): Header = {
    var i = 12
    var ch: Option[Int] = None
    var sr: Option[Int] = None
    var byteRate = 0L
    var dataSize: Option[Long] = None
    while (i + 8 <= b.length) {
      val id = fourcc(b, i)
      val size = le32(b, i + 4).toLong & 0xffffffffL
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        ch = Some(le16(b, i + 10))
        sr = Some(le32(b, i + 12))
        byteRate = le32(b, i + 16).toLong & 0xffffffffL
      } else if (id == "data") dataSize = Some(size)
      // Long walk arithmetic: a corrupt size near 2^32 would wrap a
      // 32-bit add negative and loop forever; any next offset past the
      // buffer ends the walk (the current chunk was already consumed)
      val next = i.toLong + 8L + size + (size % 2)
      if (next > b.length || next <= i) i = b.length else i = next.toInt
    }
    Header("wav", channels = ch, sampleRate = sr,
      durationMs = dataSize.filter(_ => byteRate > 0)
        .map(ds => ds * 1000L / byteRate))
  }

  /** MP4/ISO-BMFF: top-level box walk to `moov`, then children — `mvhd`
    * v0 carries timescale (BE32 at payload+12) and duration (BE32 at
    * +16), so duration_ms = duration x 1000 / timescale; the first
    * `trak` whose `tkhd` v0 has a nonzero 16.16-fixed width (BE32 at
    * payload+76/+80) supplies the video dimensions (audio-only movies
    * report none). 64-bit box sizes (size field 1) and `size=0` (to end
    * of file) stop the walk — headers live in ordinary 32-bit boxes.
    */
  private def parseMp4(b: Array[Byte]): Header = {
    var duration: Option[Long] = None
    var w: Option[Int] = None
    var h: Option[Int] = None
    def walkChildren(from: Int, to: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= to && i + 8 <= b.length) {
        val size = be32(b, i).toLong & 0xffffffffL
        if (size < 8) return // 0 = to-EOF, 1 = 64-bit: stop the walk
        val id = fourcc(b, i + 4)
        val end = math.min(to.toLong, i + size).toInt
        if (id == "moov" && depth == 0) walkChildren(i + 8, end, 1)
        else if (id == "mvhd" && depth == 1 && i + 8 + 20 <= b.length &&
            u8(b, i + 8) == 0) {
          val timescale = be32(b, i + 20).toLong & 0xffffffffL
          val dur = be32(b, i + 24).toLong & 0xffffffffL
          if (timescale > 0) duration = Some(dur * 1000L / timescale)
        } else if (id == "trak" && depth == 1) walkChildren(i + 8, end, 2)
        else if (id == "tkhd" && depth == 2 && i + 8 + 84 <= b.length &&
            u8(b, i + 8) == 0 && w.isEmpty) {
          val fw = be32(b, i + 8 + 76) >>> 16
          val fh = be32(b, i + 8 + 80) >>> 16
          if (fw > 0 && fh > 0) { w = Some(fw); h = Some(fh) }
        }
        // Long walk arithmetic (same overflow guard as the WAV walk)
        val next = i.toLong + size
        if (next > to || next <= i) return else i = next.toInt
      }
    }
    walkChildren(0, b.length, 0)
    Header("mp4", width = w, height = h, durationMs = duration)
  }
}

/** Deterministic stand-in for a media codec; see [[Multimodal]] scaladoc. */
object MediaDecoder {
  def open(): MediaDecoder = new MediaDecoder
}

final class MediaDecoder {
  /** STUB decode: a real implementation would parse the container, sample
    * frames, and run a feature model. The fake derives both outputs from
    * the payload bytes deterministically so tests are exact.
    */
  def decode(media: Array[Byte]): (Int, Seq[Float]) = {
    if (media == null || media.isEmpty) return (0, Seq(0f, 0f, 0f, 0f))
    val d = java.security.MessageDigest.getInstance("MD5").digest(media)
    val frames = math.max(1, media.length / 64)
    (frames, d.take(4).toSeq.map(b => (b & 0xff) / 255.0f))
  }
}
