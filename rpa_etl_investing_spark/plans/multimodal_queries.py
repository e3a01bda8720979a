"""Multimodal-column queries (SURVEY §2.10): binary payload plumbing.

The Spark side builds REAL PNG/JPEG/AVI containers around each document
and decodes them by parsing bytes (chunk walks, marker scans, CRC checks
— multimodal/binary_ops.py); the oracle verifies the decoded metadata
arithmetically, because the fixture encodes dimensions/frame counts as
deterministic functions of the text:

- media_type: doc_id % 3 → png / jpeg / avi (Spark re-derives it from
  the payload's magic bytes; the oracle from the modulus).
- n_bytes: text length + the container's fixed header overhead (PNG 65,
  JPEG 45, AVI 96 + even-byte pad).
- width/height: 32 + n % 64 and 32 + 7n % 64 (encoded into IHDR / SOF0 /
  avih, decoded back from those offsets).
- n_frames: AVI dwTotalFrames = 1 + (first md5(text) byte) % 30.
- checksum: md5 of the embedded content (the text bytes) that the
  parser extracts from the tEXt / COM / 00tx chunk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rpa_etl_investing_spark.catalog import tbl
from rpa_etl_investing_spark.multimodal import (
    attach_binary_media,
    decode_media_metadata,
    sample_video_frames,
)
from rpa_etl_investing_spark.plans.registry import register

# first md5 byte from its two hex chars, ANSI-style
_MD5_BYTE = (
    "(16 * (STRPOS('0123456789abcdef', SUBSTRING(md5(text), 1, 1)) - 1)"
    " + STRPOS('0123456789abcdef', SUBSTRING(md5(text), 2, 1)) - 1)"
)

_META_SQL = f"""
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
              ELSE 'avi' END AS media_type,
         CAST(OCTET_LENGTH(ENCODE(text)) +
              CASE CAST(doc_id % 3 AS INT)
                   WHEN 0 THEN 65 WHEN 1 THEN 45
                   ELSE 96 + OCTET_LENGTH(ENCODE(text)) % 2 END AS BIGINT) AS n_bytes,
         CAST(32 + OCTET_LENGTH(ENCODE(text)) % 64 AS INT) AS width,
         CAST(32 + (OCTET_LENGTH(ENCODE(text)) * 7) % 64 AS INT) AS height,
         CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + {_MD5_BYTE} % 30 ELSE 1 END AS INT) AS n_frames,
         md5(text) AS checksum
  FROM documents
"""


@register("multimodal_decode_meta", oracle=_META_SQL)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode via Arrow-batched mapInPandas — real header
    parsing (PNG IHDR + CRC, JPEG SOF scan, AVI avih), see
    multimodal/binary_ops.py parse_media_payload."""
    media = attach_binary_media(tbl(spark, sf_dir, "documents"))
    return decode_media_metadata(media)


@register(
    "multimodal_audio_meta",
    oracle="""
    WITH n AS (SELECT doc_id, text,
                      CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS nb
               FROM documents),
    f AS (SELECT doc_id, text, nb,
                 8000 + CAST(nb % 8 AS INT) * 1000 AS rate,
                 1 + CAST(nb % 2 AS INT) AS chans
          FROM n)
    SELECT doc_id,
           nb + 44 + nb % 2 AS n_bytes,
           CAST(rate AS INT) AS sample_rate,
           CAST(chans AS INT) AS n_channels,
           CAST(16 AS INT) AS bits_per_sample,
           nb // (chans * 2) AS n_samples,
           (nb // (chans * 2)) * 1000000 // rate AS duration_us,
           md5(text) AS checksum
    FROM f
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality: real RIFF/WAVE construction + fmt-chunk parse
    (sample rate, channels, bit depth, sample count, integer-exact
    duration) through the same Arrow mapInPandas plumbing as the
    image/video decode."""
    from rpa_etl_investing_spark.multimodal import (
        attach_binary_audio,
        decode_audio_metadata,
    )

    return decode_audio_metadata(
        attach_binary_audio(tbl(spark, sf_dir, "documents"))
    )


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id, n_frames, UNNEST(RANGE(0, n_frames, 5)) AS frame_no
    FROM ({_META_SQL})
    WHERE media_type = 'avi'
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: every-5th frame index per video, JVM-side explode."""
    media = attach_binary_media(tbl(spark, sf_dir, "documents"))
    meta = decode_media_metadata(media)
    return sample_video_frames(meta, every_n=5).select("doc_id", "n_frames", "frame_no")


@register(
    "multimodal_resize",
    oracle=f"""
    SELECT doc_id, media_type, width, height,
           CASE WHEN GREATEST(width, height) > 48
                THEN CAST(FLOOR(width * 48.0 / GREATEST(width, height)) AS INT)
                ELSE width END AS new_width,
           CASE WHEN GREATEST(width, height) > 48
                THEN CAST(FLOOR(height * 48.0 / GREATEST(width, height)) AS INT)
                ELSE height END AS new_height,
           GREATEST(width, height) > 48 AS resized
    FROM ({_META_SQL})
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage: longer edge capped at 48 px, aspect preserved —
    decode → resize pipeline over binary media columns."""
    from rpa_etl_investing_spark.multimodal import resize_media

    media = attach_binary_media(tbl(spark, sf_dir, "documents"))
    return resize_media(decode_media_metadata(media), max_dim=48)


@register(
    "multimodal_patch_grid",
    oracle=f"""
    WITH meta AS ({_META_SQL})
    SELECT doc_id, media_type, width, height,
           CAST((width + 15) // 16 AS INT) AS n_patches_x,
           CAST((height + 15) // 16 AS INT) AS n_patches_y,
           CAST(((width + 15) // 16) * 16 AS INT) AS padded_w,
           CAST(((height + 15) // 16) * 16 AS INT) AS padded_h,
           CAST(((width + 15) // 16) * ((height + 15) // 16) * n_frames
                AS BIGINT) AS total_patches
    FROM meta
    """,
)
def multimodal_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch-grid planning over decoded media: 16×16 patch
    counts, right/bottom padding to the patch grid, and the total patch
    (= vision-token) budget per asset including every AVI frame. The
    dims come from the REAL byte-level decode (multimodal/binary_ops.py
    — PNG IHDR / JPEG SOF / AVI avih); the grid itself is pure integer
    arithmetic folded into the same projection, so the oracle verifies
    decode + planning end to end. This is the accounting pass a
    multimodal training pipeline runs to budget sequence lengths before
    any pixel decode happens — metadata-only, no image libraries, one
    map-only pass after the Arrow-batched header parse."""
    from pyspark.sql import functions as F

    meta = decode_media_metadata(
        attach_binary_media(tbl(spark, sf_dir, "documents"))
    )
    npx = F.expr("CAST((width + 15) div 16 AS INT)")
    npy = F.expr("CAST((height + 15) div 16 AS INT)")
    return meta.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        npx.alias("n_patches_x"),
        npy.alias("n_patches_y"),
        (npx * 16).cast("int").alias("padded_w"),
        (npy * 16).cast("int").alias("padded_h"),
        (npx.cast("bigint") * npy.cast("bigint") * F.col("n_frames")).cast(
            "bigint"
        ).alias("total_patches"),
    )


@register(
    "multimodal_length_batching",
    oracle=f"""
    WITH meta AS ({_META_SQL}),
    pg AS (
      SELECT doc_id, media_type,
             CAST(((width + 15) // 16) * ((height + 15) // 16) * n_frames
                  AS BIGINT) AS total_patches
      FROM meta),
    r AS (
      SELECT doc_id, media_type, total_patches,
             ROW_NUMBER() OVER (PARTITION BY media_type
                                ORDER BY total_patches, doc_id) AS rk
      FROM pg),
    b AS (
      SELECT media_type, CAST((rk - 1) // 8 AS BIGINT) AS batch_id,
             total_patches
      FROM r)
    SELECT media_type, batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(total_patches) AS BIGINT) AS max_patches,
           CAST(SUM(total_patches) AS BIGINT) AS sum_patches,
           CAST(COUNT(*) * MAX(total_patches) - SUM(total_patches)
                AS BIGINT) AS padding_waste
    FROM b
    GROUP BY media_type, batch_id
    ORDER BY media_type, batch_id
    """,
)
def multimodal_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch shaping for multimodal training: per
    modality, sort assets by vision-token count (the ViT patch budget
    from the REAL byte-level decode), cut into fixed-size batches of 8,
    and account the padding waste each batch pays (batch pads every
    sample to its max). Sorting by length before batching is the
    standard trick that collapses padding waste versus random batching
    — this query IS the accounting that justifies it.

    Scale shape: the per-modality rank comes from the SHARDED running
    count (operators/prefix.py `sharded_row_number` over value-range
    shards on the patch count — ties never cross shards, so the
    composite (patches, doc_id) order stays shard-monotone): no
    per-modality global sort task, no single-partition Window. The
    batch reduction is one hash aggregate on (media_type, batch_id).
    Everything after the Arrow-batched header parse is JVM-side integer
    arithmetic."""
    from pyspark.sql import functions as F

    from rpa_etl_investing_spark.operators.prefix import (
        SHARD,
        sharded_row_number,
        with_value_range_shard,
    )

    meta = decode_media_metadata(
        attach_binary_media(tbl(spark, sf_dir, "documents"))
    )
    npx = F.expr("CAST((width + 15) div 16 AS INT)")
    npy = F.expr("CAST((height + 15) div 16 AS INT)")
    pg = meta.select(
        "doc_id",
        "media_type",
        (npx.cast("bigint") * npy.cast("bigint") * F.col("n_frames"))
        .cast("bigint")
        .alias("total_patches"),
    )
    ranked = sharded_row_number(
        with_value_range_shard(pg, "total_patches"),
        ["media_type"],
        ["total_patches", "doc_id"],
        "rk",
    )
    b = ranked.select(
        "media_type",
        ((F.col("rk") - 1) / 8).cast("bigint").alias("batch_id"),
        "total_patches",
    )
    return (
        b.groupBy("media_type", "batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_samples"),
            F.max("total_patches").cast("bigint").alias("max_patches"),
            F.sum("total_patches").cast("bigint").alias("sum_patches"),
        )
        .withColumn(
            "padding_waste",
            (F.col("n_samples") * F.col("max_patches") - F.col("sum_patches"))
            .cast("bigint"),
        )
        .orderBy("media_type", "batch_id")
    )


@register(
    "multimodal_webdataset_plan",
    oracle=f"""
    WITH meta AS ({{_META_SQL}}),
    c AS (
      SELECT doc_id, media_type, n_bytes,
             SUM(n_bytes) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_bytes
      FROM meta),
    sh AS (
      SELECT doc_id, media_type, n_bytes,
             CAST((cum_bytes - n_bytes) // 262144 AS BIGINT) AS shard_id
      FROM c)
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
           CAST(COUNT(*) FILTER (WHERE media_type = 'png') AS BIGINT) AS n_png,
           CAST(COUNT(*) FILTER (WHERE media_type = 'jpeg') AS BIGINT) AS n_jpeg,
           CAST(COUNT(*) FILTER (WHERE media_type = 'avi') AS BIGINT) AS n_avi,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM sh
    GROUP BY shard_id
    ORDER BY shard_id
    """.format(_META_SQL=_META_SQL),
)
def multimodal_webdataset_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM+ gen: WebDataset-style shard planning — assign samples to
    contiguous ~256 KiB tar shards by CUMULATIVE BYTE OFFSET (the
    layout multimodal training loaders stream sequentially; contiguity
    in doc order is the property that makes a shard one sequential
    read). The byte sizes come from the REAL container decode
    (multimodal/binary_ops.py), the offsets from the SHARDED running
    sum (operators/prefix.py — no single-task global window), shard_id
    = start-offset div budget (concatenation-split semantics: a sample
    starting inside a shard belongs to it, the pack-offsets
    convention), and the report gives per-shard sample counts, byte
    totals, modality mix, and the doc-id span proving contiguity."""
    from pyspark.sql import functions as F

    from rpa_etl_investing_spark.operators.prefix import (
        sharded_running_sum,
        with_id_range_shard,
    )

    # the sharded scan references this relation through several branches
    # (bounds aggregate, local window, shard totals) — left lazy, each
    # branch re-runs the Arrow-batched binary decode (measured 30 s →
    # 3 s at sf0.001)
    meta = (
        decode_media_metadata(attach_binary_media(tbl(spark, sf_dir, "documents")))
        .select("doc_id", "media_type", "n_bytes")
        .localCheckpoint(eager=False)
    )
    c = sharded_running_sum(
        with_id_range_shard(meta, "doc_id"),
        [],
        ["doc_id"],
        F.col("n_bytes"),
        "cum_bytes",
    )
    sh = c.withColumn(
        "shard_id",
        F.expr("CAST((cum_bytes - n_bytes) div 262144 AS BIGINT)"),
    )
    return (
        sh.groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("n_samples"),
            F.sum("n_bytes").cast("bigint").alias("shard_bytes"),
            F.count_if(F.col("media_type") == "png")
            .cast("bigint")
            .alias("n_png"),
            F.count_if(F.col("media_type") == "jpeg")
            .cast("bigint")
            .alias("n_jpeg"),
            F.count_if(F.col("media_type") == "avi")
            .cast("bigint")
            .alias("n_avi"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .orderBy("shard_id")
    )


@register(
    "multimodal_audio_chunks",
    oracle="""
    WITH n AS (SELECT doc_id, text,
                      CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS nb
               FROM documents),
    f AS (SELECT doc_id, nb,
                 8000 + CAST(nb % 8 AS INT) * 1000 AS rate,
                 1 + CAST(nb % 2 AS INT) AS chans
          FROM n),
    m AS (SELECT doc_id, CAST(rate AS BIGINT) AS rate,
                 nb // (chans * 2) AS ns
          FROM f),
    plan AS (
      SELECT doc_id, rate, ns,
             CASE WHEN ns <= 32 THEN 1
                  ELSE 1 + (ns - 32 + 23) // 24 END AS n_chunks
      FROM m)
    SELECT p.doc_id,
           CAST(i.i AS INT) AS chunk_idx,
           CAST(i.i * 24 AS BIGINT) AS start_sample,
           CAST(LEAST(i.i * 24 + 32, p.ns) AS BIGINT) AS end_sample,
           CAST(LEAST(i.i * 24 + 32, p.ns) - i.i * 24 AS BIGINT) AS n_in_chunk,
           CAST(i.i * 24 * 1000000 // p.rate AS BIGINT) AS start_us
    FROM plan p, (SELECT UNNEST(RANGE(0, 100)) AS i) i
    WHERE i.i < p.n_chunks
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM+ (r6): overlapping audio chunk plan — each decoded WAV is cut
    into fixed 32-sample windows with stride 24 (25% overlap, the same
    32/24 discipline as the text chunker `llm_chunk_overlap`), the
    shape ASR/audio-tokenizer training uses so no acoustic event is
    split without context. Chunk grain: (doc, idx, sample range,
    integer-µs start offset); the final (short) chunk is clamped to
    the real sample count, never padded here (padding policy belongs
    to the batch shaper, `multimodal_length_batching`).

    Scale shape: sample counts come from the REAL RIFF/fmt parse
    (multimodal/binary_ops.py, Arrow mapInPandas over the binary
    column); the plan itself is a map-side sequence-explode per doc —
    fan-out = chunk count, bounded by duration — with pure-BIGINT
    offset arithmetic identical on both engines. At 100 TB the chunk
    plan is a projection of the decode pass; byte-range fetches for
    each chunk (start_sample·block_align + header offset) follow from
    these columns without re-reading audio."""
    from rpa_etl_investing_spark.multimodal import (
        attach_binary_audio,
        decode_audio_metadata,
    )

    meta = decode_audio_metadata(
        attach_binary_audio(tbl(spark, sf_dir, "documents"))
    ).select(
        "doc_id",
        F.col("sample_rate").cast("bigint").alias("rate"),
        F.col("n_samples").alias("ns"),
    )
    n_chunks = F.when(F.col("ns") <= 32, F.lit(1)).otherwise(
        F.lit(1) + F.floor((F.col("ns") - 32 + 23) / 24).cast("bigint")
    )
    plan = meta.withColumn("n_chunks", n_chunks)
    return plan.select(
        "doc_id",
        "rate",
        "ns",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias(
            "chunk_idx"
        ),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx") * 24).cast("bigint").alias("start_sample"),
        F.least(F.col("chunk_idx") * 24 + 32, F.col("ns"))
        .cast("bigint")
        .alias("end_sample"),
        (F.least(F.col("chunk_idx") * 24 + 32, F.col("ns")) - F.col("chunk_idx") * 24)
        .cast("bigint")
        .alias("n_in_chunk"),
        F.expr("CAST(chunk_idx * 24 * 1000000 div rate AS BIGINT)").alias("start_us"),
    )


@register(
    "multimodal_interleaved_plan",
    oracle=f"""
    WITH meta AS ({_META_SQL}),
    plan AS (
      SELECT m.doc_id,
             CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS text_tokens,
             CAST(((m.width + 15) // 16) * ((m.height + 15) // 16) * m.n_frames
                  AS BIGINT) AS vision_tokens
      FROM meta m JOIN documents d ON d.doc_id = m.doc_id)
    SELECT doc_id, text_tokens, vision_tokens,
           text_tokens + vision_tokens + 2 AS total_tokens,
           text_tokens + vision_tokens + 2 <= 512 AS fits_ctx,
           CAST((text_tokens + vision_tokens + 2 + 511) // 512 AS BIGINT)
             AS n_ctx_chunks
    FROM plan
    """,
)
def multimodal_interleaved_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM+ (r6): interleaved text+vision SEQUENCE budgeting — the
    accounting pass a VLM training pipeline runs before building
    batches: each document's sequence costs its text tokens plus its
    media's vision tokens (the ViT patch budget from
    `multimodal_patch_grid`, every AVI frame included) plus 2
    separator tokens; the plan reports whether the interleaved
    sequence fits a 512-token context and how many context windows it
    needs otherwise. Downstream, `multimodal_length_batching` shapes
    these totals into padded batches and `curation_pack_offsets` packs
    the text side — this query is the join point between the text and
    vision budget lines.

    Scale shape: the vision side reuses the Arrow-batched header parse
    (real PNG/JPEG/AVI bytes); the text side is a map-side split-count
    on the SAME documents scan; the join is doc-keyed and
    one-to-one. Pure integer arithmetic throughout — budgets must be
    exact, an off-by-one sequence overflow is a training crash."""
    meta = decode_media_metadata(
        attach_binary_media(tbl(spark, sf_dir, "documents"))
    )
    vis = (
        F.expr("CAST((width + 15) div 16 AS BIGINT)")
        * F.expr("CAST((height + 15) div 16 AS BIGINT)")
        * F.col("n_frames")
    ).cast("bigint")
    m = meta.select("doc_id", vis.alias("vision_tokens"))
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("text_tokens"),
    )
    total = F.col("text_tokens") + F.col("vision_tokens") + F.lit(2)
    return m.join(d, "doc_id").select(
        "doc_id",
        "text_tokens",
        "vision_tokens",
        total.alias("total_tokens"),
        (total <= 512).alias("fits_ctx"),
        F.expr(
            "CAST((text_tokens + vision_tokens + 2 + 511) div 512 AS BIGINT)"
        ).alias("n_ctx_chunks"),
    )
