package graft.llmops

import graft.{GraftQuery, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (driver north star: image/audio/video as
  * opaque `binary` columns with typed metadata).
  *
  * Real decoders (JPEG/PNG/audio codecs) are NOT in this container, so the
  * decode step is a clearly-marked deterministic FAKE: it derives
  * "metadata" (width/height/duration) from the payload's md5 — the Spark
  * side of the pipeline (binary schema, per-row feature extraction inside
  * whole-stage codegen, frame fan-out via a generator, batch-friendly
  * partitioning) is real and oracle-checked. Swapping in a real decoder
  * means replacing [[fakeDecodeWidth]]/[[fakeDecodeHeight]] with a
  * mapPartitions/Pandas-UDF-style batch decode behind the same schema; the
  * plan shape does not change.
  *
  * The binary payloads are derived on the fly from documents.text (the
  * testdata has no binary column); since the text is ASCII, the DuckDB
  * oracle computes the same bytes on the VARCHAR side (DuckDB 1.0 lacks
  * BLOB md5/substring).
  *
  * Scale posture: everything is a per-row projection or a bounded
  * generator — no shuffle at all until the final ORDER BY (verify-output
  * determinism only). At 100 TB the binary payloads dominate scan cost;
  * metadata extraction adds no data movement, and frame sampling fans out
  * rows in the same stage (no join).
  */
object Multimodal {

  /** FAKE decode: "width" from md5 hex chars 1-4. A real impl would parse
    * the image header here. Deterministic + cross-engine reproducible. */
  def fakeDecodeWidth(payloadMd5: Column): Column =
    (conv(substring(payloadMd5, 1, 4), 16, 10).cast("long") % 2048) + 16

  /** FAKE decode: "height" from md5 hex chars 5-8. */
  def fakeDecodeHeight(payloadMd5: Column): Column =
    (conv(substring(payloadMd5, 5, 4), 16, 10).cast("long") % 2048) + 16

  private def media(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      // a null text is a MISSING payload — no bytes to ingest, decode,
      // frame, or shard — dropped at the read on both sides (`WHERE
      // text IS NOT NULL` in every mm oracle). Pinned by NullInputSpec.
      .filter(col("text").isNotNull)
      .select(
        col("doc_id").as("media_id"),
        col("text").cast(BinaryType).as("payload"),
        col("lang"))

  /** Binary ingestion + typed-metadata extraction: payload stays opaque;
    * md5/length are codegen'd builtins; width/height are the stubbed
    * decode. */
  private val mmFeatures = GraftQuery(
    "mm_binary_features",
    "opaque binary payload -> typed metadata (md5/bytes/fake-decode dims)",
    Some("""
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS content_md5,
             (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 2048) + 16 AS width,
             (CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 2048) + 16 AS height
      FROM documents WHERE text IS NOT NULL
      ORDER BY media_id"""),
    (s, dir) => {
      val m = media(s, dir).withColumn("content_md5", md5(col("payload")))
      m.select(
        col("media_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        col("content_md5"),
        fakeDecodeWidth(col("content_md5")).as("width"),
        fakeDecodeHeight(col("content_md5")).as("height"))
        .orderBy("media_id")
    })

  private val frameBytes = 32

  /** Frame sampling: fan each payload out into fixed-size "frames"
    * (sequence + posexplode generator — no shuffle), fingerprint each
    * frame. The video-decode analog of mapInPandas batch processing; a
    * real codec would replace the substring with a frame extractor.
    *
    * Frames are BYTE windows of the payload (codecs window bytes, not
    * characters), and the fingerprint is md5 of the window's HEX
    * encoding: DuckDB can neither slice nor md5 a BLOB, but both
    * engines hex identically (uppercase), and a hex-string slice at
    * 2× the byte offsets IS the byte slice — so the fingerprint stays
    * byte-true AND oracle-pairable. md5-of-raw-bytes vs
    * md5(substring(text)) only agreed while every payload was pure
    * ASCII; the round-11 unicode gate broke that (char windows ≠ byte
    * windows on multibyte text). */
  private val mmFrames = GraftQuery(
    "mm_frame_sample",
    "binary payload -> fixed-size frame fan-out + per-frame fingerprint",
    Some(s"""
      WITH m AS (
        SELECT doc_id AS media_id, text,
               CAST(ceil(octet_length(encode(text)) / $frameBytes.0) AS BIGINT) AS n_frames
        FROM documents WHERE text IS NOT NULL),
      f AS (
        SELECT media_id, hex(encode(text)) AS hx,
               unnest(generate_series(0, n_frames - 1)) AS frame_idx
        FROM m)
      SELECT media_id, frame_idx,
             md5(substring(hx, CAST(frame_idx * ${2 * frameBytes} + 1 AS INT), ${2 * frameBytes})) AS frame_md5
      FROM f
      ORDER BY media_id, frame_idx"""),
    (s, dir) =>
      media(s, dir)
        .withColumn("n_frames",
          ceil(octet_length(col("payload")) / lit(frameBytes.toDouble)).cast("long"))
        .filter(col("n_frames") > 0) // sequence(0,-1) would yield [0,-1]; oracle generate_series(0,-1) is empty
        .select(col("media_id"), col("payload"),
          posexplode(expr("sequence(0, n_frames - 1)")).as(Seq("p", "frame_idx")))
        .select(col("media_id"), col("frame_idx"),
          md5(hex(expr(s"substring(payload, cast(frame_idx * $frameBytes + 1 as int), $frameBytes)")))
            .as("frame_md5"))
        .orderBy("media_id", "frame_idx"))

  /** Pluggable batch decoder (the mapInPandas-batch analog in Scala): a
    * real implementation would decode image/audio payloads a batch at a
    * time (amortizing codec/model setup per batch, exactly like a Pandas
    * UDF amortizes per-batch Arrow conversion). The default is the
    * clearly-marked deterministic FAKE — md5-derived dimensions — so the
    * pipeline shape is oracle-checkable without codecs. */
  trait MediaDecoder extends Serializable {
    /** One metadata tuple (width, height, n_bytes) per payload, in order. */
    def decodeBatch(payloads: Seq[Array[Byte]]): Seq[(Long, Long, Long)]
  }

  final class FakeMediaDecoder extends MediaDecoder {
    override def decodeBatch(payloads: Seq[Array[Byte]]): Seq[(Long, Long, Long)] =
      payloads.map { p =>
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(p)
          .map("%02x".format(_)).mkString
        val w = (java.lang.Long.parseLong(md5.substring(0, 4), 16) % 2048) + 16
        val h = (java.lang.Long.parseLong(md5.substring(4, 8), 16) % 2048) + 16
        (w, h, p.length.toLong)
      }
  }

  final case class MediaRow(media_id: Long, payload: Array[Byte])
  final case class DecodedRow(media_id: Long, width: Long, height: Long, n_bytes: Long)

  /** The executor-side batch-decode plumbing: rows grouped into
    * fixed-size batches inside each partition, one decoder call per
    * batch, typed rows out. Swapping [[FakeMediaDecoder]] for a real
    * codec changes no plan shape — partitioning, batch size, and schema
    * stay as tested. */
  def decodeBatched(media: org.apache.spark.sql.Dataset[MediaRow],
      decoder: MediaDecoder, batchSize: Int = 64): org.apache.spark.sql.Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.lazyZip(decoder.decodeBatch(batch.map(_.payload)))
          .map { case (m, (w, h, b)) => DecodedRow(m.media_id, w, h, b) }
      }
    }
  }

  /** Batch-decode query: same answer as the column-pure mm_binary_features
    * dims (the oracle proves the mapPartitions path agrees with the
    * codegen'd path — the X1-annotator pattern applied to media). */
  private val mmBatchDecode = GraftQuery(
    "mm_batch_decode",
    "mapPartitions batched media decode behind a pluggable trait (stub codec)",
    Some("""
      SELECT doc_id AS media_id,
             (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 2048) + 16 AS width,
             (CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 2048) + 16 AS height,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE text IS NOT NULL
      ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val m = media(s, dir).select(col("media_id"), col("payload")).as[MediaRow]
      decodeBatched(m, new FakeMediaDecoder).toDF().orderBy("media_id")
    })

  private val fitBox = 256L

  /** Resize planning: aspect-preserving fit of each media item into a
    * 256x256 box — scale = min(box/w, box/h) capped at 1 (never
    * upscale), integer target dims via floor. The arithmetic the real
    * resize kernel would receive; pure projection, no shuffle. Exact
    * rational arithmetic (multiply-then-divide in integers) keeps the
    * oracle bit-identical — float scale factors would reintroduce the
    * cast-rounding divergence. */
  private val mmResize = GraftQuery(
    "mm_resize_plan",
    "aspect-preserving fit-to-box resize planning over decoded dims",
    Some(s"""
      WITH m AS (
        SELECT doc_id AS media_id,
               (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 2048) + 16 AS w,
               (CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 2048) + 16 AS h
        FROM documents WHERE text IS NOT NULL)
      SELECT media_id, w, h,
        CASE WHEN w <= $fitBox AND h <= $fitBox THEN w
             WHEN w >= h THEN $fitBox
             ELSE (w * $fitBox) // h END AS out_w,
        CASE WHEN w <= $fitBox AND h <= $fitBox THEN h
             WHEN h >= w THEN $fitBox
             ELSE (h * $fitBox) // w END AS out_h,
        (w <= $fitBox AND h <= $fitBox) AS unscaled
      FROM m
      ORDER BY media_id"""),
    (s, dir) => {
      val m = media(s, dir).withColumn("content_md5", md5(col("payload")))
        .select(col("media_id"),
          fakeDecodeWidth(col("content_md5")).as("w"),
          fakeDecodeHeight(col("content_md5")).as("h"))
      val fits = col("w") <= fitBox && col("h") <= fitBox
      m.select(col("media_id"), col("w"), col("h"),
        when(fits, col("w"))
          .when(col("w") >= col("h"), lit(fitBox))
          .otherwise(expr(s"w * $fitBox div h")).as("out_w"),
        when(fits, col("h"))
          .when(col("h") >= col("w"), lit(fitBox))
          .otherwise(expr(s"h * $fitBox div w")).as("out_h"),
        fits.as("unscaled"))
        .orderBy("media_id")
    })

  /** Root for the materialized binary-file corpus, keyed by the FULL
    * source path plus a content fingerprint of the documents table's
    * file listing (name, size, mtime — driver-side metadata only, no
    * Spark job): regenerated testdata at the same path gets a fresh blob
    * dir instead of silently reusing stale .bin files, and two distinct
    * dirs can never alias (the old `dir.hashCode` tag allowed both).
    * It lives in the per-process scratch tree that
    * [[graft.GraftSession.release]] deletes, unless SPARK_GRAFT_BLOB_DIR
    * names a blob root. On a real cluster that root MUST be shared
    * storage — executors write blobs with local file APIs, so an
    * executor-local /tmp would leave the driver-side binaryFile scan
    * seeing none of them. */
  private def binDirFor(dir: String): java.io.File = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val listing =
      if (src.isDirectory)
        Option(src.listFiles()).toSeq.flatten.sortBy(_.getName)
          .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      else Seq(s"${src.getName}:${src.length}:${src.lastModified}")
    val sig = (dir +: listing).mkString("|")
    new java.io.File(sys.env.get("SPARK_GRAFT_BLOB_DIR")
      .fold(graft.sources.Formats.scratch(sig, "graft_binfiles"))(
        root => s"$root/graft_binfiles_${T.scratchKey(sig)}"))
  }

  /** Materialize one .bin file per document (content = UTF-8 text bytes)
    * via a DISTRIBUTED foreachPartition write — the executor-side file
    * sink pattern a real media pipeline uses against shared storage.
    * Idempotent: a _DONE marker (written only after the job completes)
    * skips rebuilds; bytes are a pure function of the table, so a lost
    * marker race just rewrites identical files. */
  private def ensureBinFiles(s: SparkSession, dir: String): String = synchronized {
    val out = binDirFor(dir)
    val marker = new java.io.File(out, "_DONE")
    if (!marker.exists()) {
      out.mkdirs()
      val root = out.getAbsolutePath
      T(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull) // missing payload: nothing to write
        // a blob store is keyed by media id: duplicate-KEY rows (tenth
        // axis, round 15) must collapse to ONE idempotent put — without
        // this, two tasks can race concurrent writes to the same path.
        // min(text), not dropDuplicates: under KEY CORRUPTION (same id,
        // different payload) dropDuplicates picks a partition-dependent
        // winner — min is deterministic, and identical to dropDuplicates
        // on exact copies (the contract case)
        .groupBy(col("doc_id")).agg(min(col("text")).as("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(root, f"doc_${r.getLong(0)}%08d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      marker.createNewFile()
    }
    out.getAbsolutePath
  }

  /** Opaque-blob ingestion through Spark's real `binaryFile` source: scan
    * a directory of media blobs into (path, length, content) with the
    * doc id recovered from the file name, then hash/measure the payload.
    *
    * Scale notes: binaryFile is a FileScan — partition planning, glob
    * pushdown (`pathGlobFilter` prunes non-media files before any read),
    * and bin-packing of small files into tasks all come from the
    * standard file-source machinery; content bytes stream straight into
    * the per-row projection, no shuffle before the verify-only ORDER BY.
    * The oracle recomputes length+md5 from the documents table (the
    * files' bytes are exactly the UTF-8 text), closing the loop: write
    * path and read path agree byte-for-byte.
    */
  private val mmBinaryIngest = GraftQuery(
    "mm_binary_ingest",
    "binaryFile-source ingestion of a materialized blob dir; byte-roundtrip vs documents",
    Some("""
      -- entity readback: the blob store holds ONE object per media id
      -- (the write collapses copies via min(text) — deterministic even
      -- under KEY CORRUPTION, r15), so the oracle models the store:
      -- min(text) per id. Identical to the raw rows on a key-unique
      -- corpus and to DISTINCT under exact duplication.
      SELECT doc_id AS media_id,
             octet_length(encode(min(text))) AS n_bytes,
             md5(min(text)) AS content_md5
      FROM documents WHERE text IS NOT NULL
      GROUP BY doc_id
      ORDER BY media_id"""),
    (s, dir) => {
      val bin = ensureBinFiles(s, dir)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(bin)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
            .as("media_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("media_id")
    })

  private val shardParts = 8
  private val shardCap = 262144L // 256 KiB target shard payload
  private val shardShift = 1L << 30 // local shard ids stay < 2^30 per bucket

  /** WebDataset-style shard manifest: media are deterministically
    * shuffled (md5 of the id — reproducible, content-independent),
    * hash-split into `shardParts` independent bucket streams, and each
    * bucket stream is chunked into ~`shardCap`-byte shards by START
    * offset (a shard may overrun the cap by at most one item — the
    * target-size semantics real shard writers use). Output is the
    * manifest row a dataloader needs: which shard, at what byte offset,
    * how many bytes.
    *
    * Scale notes: the same partitioned-running-sum discipline as
    * `llm_e4_shuffle_pack` — NO global window; each bucket's running
    * byte sum is an independent window partition, so layout of 100 TB
    * of media parallelizes across buckets while staying byte-exact and
    * engine-independent (all integer arithmetic). */
  private val mmShardManifest = GraftQuery(
    "mm_shard_manifest",
    "deterministic shuffled shard manifest: bucketed running-byte-sum layout",
    Some(s"""
      WITH m AS (
        SELECT doc_id AS media_id,
               md5(CAST(doc_id AS VARCHAR)) AS sk,
               octet_length(encode(text)) AS n_bytes
        FROM documents WHERE text IS NOT NULL),
      p AS (
        SELECT media_id, sk, n_bytes,
               CAST(('0x' || substr(sk, 1, 4)) AS BIGINT) % $shardParts AS part
        FROM m),
      c AS (
        -- n_bytes in the ORDER BY makes the layout sort a TOTAL order:
        -- under key corruption (eleventh-axis pilot, r15) two rows can
        -- share (sk, media_id) while differing in size, and a running
        -- sum over a tied order is engine-dependent; no ties exist on a
        -- key-unique corpus
        SELECT media_id, n_bytes, part,
               SUM(n_bytes) OVER (PARTITION BY part ORDER BY sk, media_id, n_bytes
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM p)
      SELECT CAST(part * $shardShift + floor((cum - n_bytes) / $shardCap.0) AS BIGINT)
               AS shard_id,
             media_id,
             CAST((cum - n_bytes)
               - floor((cum - n_bytes) / $shardCap.0) * $shardCap AS BIGINT)
               AS offset_bytes,
             CAST(n_bytes AS BIGINT) AS n_bytes
      FROM c
      ORDER BY shard_id, offset_bytes, media_id"""),
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("part"))
        .orderBy(col("sk"), col("media_id"), col("n_bytes")) // total order (see oracle)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      T(s, dir, "documents")
        .filter(col("text").isNotNull) // missing payload — nothing to shard
        .select(col("doc_id").as("media_id"),
          md5(col("doc_id").cast("string")).as("sk"),
          octet_length(col("text").cast(BinaryType)).cast("long").as("n_bytes"))
        .withColumn("part",
          conv(substring(col("sk"), 1, 4), 16, 10).cast("long") % shardParts)
        .withColumn("cum", sum(col("n_bytes")).over(w))
        .withColumn("start", col("cum") - col("n_bytes"))
        .select(
          (col("part") * shardShift + floor(col("start") / shardCap.toDouble))
            .cast("long").as("shard_id"),
          col("media_id"),
          (col("start") - floor(col("start") / shardCap.toDouble) * shardCap)
            .cast("long").as("offset_bytes"),
          col("n_bytes"))
        .orderBy(col("shard_id"), col("offset_bytes"), col("media_id"))
    })

  /** Pair-curation core over arbitrary (caption, media-dims, embedding)
    * frames — package-visible so the spec can plant duplicate captions
    * and gate-violating rows. Gates mirror the LAION-style recipe:
    * caption length + token floor, minimum image dimension, aspect
    * bound; then ONE pair per distinct caption (smallest media_id wins —
    * exact-dup captions are the single largest noise class in scraped
    * pair corpora). */
  private[llmops] def curatePairs(captions: DataFrame, dims: DataFrame,
      emb: DataFrame): DataFrame = {
    val toks = size(split(col("text"), " ", -1)).cast("long")
    val gated = captions
      .join(dims, col("doc_id") === col("media_id"))
      .join(emb, col("doc_id") === col("vec_id"))
      .withColumn("n_tokens", toks)
      .withColumn("caption_md5", md5(col("text")))
      .filter(col("n_chars").between(100, 500) && col("n_tokens") >= 20 &&
        least(col("w"), col("h")) >= 64 &&
        col("w") <= lit(3) * col("h") && col("h") <= lit(3) * col("w"))
    // total-order tie-break (round 16, key-corruption promotion): a
    // media_id reused with different payload/embedding copies ties on
    // media_id alone, leaving the winner partition-order luck. w/h/v
    // complete the order — both engines compare double LISTS
    // lexicographically, well-defined under the indexable contract
    // (finite, len-64, no null slots). Free on key-unique corpora
    // (media_id already unique per caption group).
    val wDedup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("caption_md5"))
      .orderBy(col("media_id"), col("w"), col("h"), col("v"))
    // int8-quantized embedding preview: floor(x*127 + 0.5) is exact and
    // tie-free in both engines (round() HALF_UP vs half-even diverges)
    def q8(i: Int): Column =
      floor(element_at(col("v"), i) * 127 + lit(0.5)).cast("int").as(s"e$i")
    gated
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("caption_md5"), col("w"), col("h"),
        col("n_tokens"), q8(1), q8(2), q8(3), q8(4))
      .orderBy("media_id")
  }

  /** CLIP-style image-text pair curation — the multi-table op that
    * assembles a training-pair corpus: captions (documents), media
    * dimensions (fake-decoded from the blob md5), and the paired
    * embedding row join on the shared id, quality gates drop short/
    * degenerate captions and tiny/extreme-aspect images, caption-exact
    * dedup keeps one pair per caption, and the output manifest carries
    * an int8-quantized embedding preview.
    *
    * Scale: three co-keyed joins (at 100 TB all shuffle on the shared
    * id — co-partitioned end to end, or bucket-written once), gates are
    * codegen'd row predicates BEFORE the dedup shuffle, and the dedup
    * window partitions on caption_md5 (unbounded cardinality — never a
    * global sort). */
  private val mmPairCuration = GraftQuery(
    "mm_pair_curation",
    "CLIP-style image-text pair curation: gates + caption dedup + quantized embedding preview",
    Some(s"""
      WITH dims AS (
        SELECT doc_id AS media_id,
               (CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 2048) + 16 AS w,
               (CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 2048) + 16 AS h
        FROM documents WHERE text IS NOT NULL),
      emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE ${graft.T.sqlIndexable}),
      gated AS (
        SELECT d.doc_id AS media_id, md5(d.text) AS caption_md5,
               dims.w, dims.h,
               len(string_split(d.text, ' ')) AS n_tokens, emb.v
        FROM documents d
        JOIN dims ON d.doc_id = dims.media_id
        JOIN emb ON d.doc_id = emb.vec_id
        WHERE d.n_chars BETWEEN 100 AND 500
          AND len(string_split(d.text, ' ')) >= 20
          AND least(dims.w, dims.h) >= 64
          AND dims.w <= 3 * dims.h AND dims.h <= 3 * dims.w),
      deduped AS (
        -- media_id, w, h, v = the engine's total-order tie-break (see
        -- curatePairs): corrupt-key copies differ only in w/h/v
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY caption_md5 ORDER BY media_id, w, h, v) AS rn
        FROM gated)
      SELECT media_id, caption_md5, w, h, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(floor(v[1] * 127 + 0.5) AS INT) AS e1,
             CAST(floor(v[2] * 127 + 0.5) AS INT) AS e2,
             CAST(floor(v[3] * 127 + 0.5) AS INT) AS e3,
             CAST(floor(v[4] * 127 + 0.5) AS INT) AS e4
      FROM deduped WHERE rn = 1
      ORDER BY media_id"""),
    (s, dir) => {
      val m = media(s, dir).withColumn("content_md5", md5(col("payload")))
      val dims = m.select(col("media_id"),
        fakeDecodeWidth(col("content_md5")).as("w"),
        fakeDecodeHeight(col("content_md5")).as("h"))
      // pair preview quantizes embedding slots to int8: a non-indexable
      // vector (NaN/Inf slot) has no preview — Inf*127 overflowed the
      // INT cast before this filter (measured, round-11 gate)
      val emb = T(s, dir, "embeddings").filter(T.indexableEmbedding)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      curatePairs(
        T(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars")),
        dims, emb)
    })

  def queries: Seq[GraftQuery] =
    Seq(mmFeatures, mmFrames, mmBatchDecode, mmResize, mmBinaryIngest,
      mmShardManifest, mmPairCuration)
}
