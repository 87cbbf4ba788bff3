"""Multimodal columns (SURVEY.md §2.9 L10): opaque binary payloads with
typed metadata, processed via Arrow-batched mapInPandas.

The container has no image/audio libraries, so the decode step is a
clearly-marked deterministic fake (length + sha256 + first-bytes
"thumbnail") — the Spark-side plumbing (BinaryType schema, struct
metadata, Arrow batch shape, partitioning) is real and oracle-checked,
and a real decoder drops into `_make_decoder` unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nipd_spark.catalog import load
from nipd_spark.registry import query
from nipd_spark.streaming.harness import staged


def _make_decoder():
    """STUB decoder factory (no media libs in this container).
    Deterministic features standing in for decode/resize/feature-extract;
    replace the body with e.g. PIL/librosa at deployment — signature and
    Arrow batch shape hold. Returned as a self-contained closure so
    cloudpickle ships it by value to workers."""

    def decode_payload(raw: bytes) -> dict:
        import hashlib as _hl

        return {
            "payload_len": len(raw),
            "payload_sha": _hl.sha256(raw).hexdigest(),
            "head_hex": raw[:4].hex(),
        }

    return decode_payload


@query(
    "l10_multimodal_decode",
    sql="""
    SELECT doc_id,
           lang AS meta_lang,
           CAST(length(text) AS BIGINT) AS payload_len,
           sha256(text) AS payload_sha,
           -- first 4 bytes of utf-8 text as hex (corpus is ascii tokens)
           lower(hex(CAST(substr(text, 1, 4) AS BLOB))) AS head_hex
    FROM documents
    """,
    tags=("L10", "D6"),
)
def l10_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary column round-trip: encode text → BinaryType payload +
    metadata struct → mapInPandas 'decode' → typed features.

    The oracle recomputes the same features from the source text
    (sha256 over identical utf-8 bytes), proving the binary path carries
    bytes faithfully through Arrow.
    """
    docs = load(spark, sf_dir, "documents")
    modal = docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.col("lang").alias("lang"), F.col("n_chars").alias("n_chars")
        ).alias("meta"),
    )

    decode_payload = _make_decoder()  # closure ships by value

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(lambda b: decode_payload(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "meta_lang": pdf["meta"].map(lambda m: m["lang"]),
                    "payload_len": feats.map(lambda f: f["payload_len"]).astype("int64"),
                    "payload_sha": feats.map(lambda f: f["payload_sha"]),
                    "head_hex": feats.map(lambda f: f["head_hex"]),
                }
            )

    return modal.mapInPandas(
        decode,
        "doc_id long, meta_lang string, payload_len long, "
        "payload_sha string, head_hex string",
    )


@query("l10b_multimodal_roundtrip", sql=None, tags=("L10", "S6"))
def l10b_multimodal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet round-trip of a multimodal row (binary + struct + array):
    write under ``harness.staged``, read back, verify payload integrity
    end-to-end (rows-only; the integrity check is inside the query —
    mismatches would change the row count)."""
    docs = load(spark, sf_dir, "documents").limit(100)
    modal = docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct("lang", "n_chars").alias("meta"),
        F.split("text", " ").alias("tokens"),
        F.sha2(F.encode("text", "UTF-8"), 256).alias("sha_before"),
    )
    back = spark.read.parquet(staged(sf_dir, "mm", modal.write.parquet))
    return (
        back.select(
            "doc_id",
            F.col("meta.lang").alias("lang"),
            F.size("tokens").alias("n_tokens"),
            (F.sha2("payload", 256) == F.col("sha_before")).alias("intact"),
        )
        .filter(F.col("intact"))
    )


@query(
    "l10c_frame_sample",
    sql="""
    WITH frames AS (
      SELECT doc_id, n_chars,
             unnest(range(0, CAST(ceil(n_chars / 16.0) AS BIGINT))) AS frame_idx
      FROM documents
    )
    SELECT f.doc_id, f.frame_idx,
           sha256(substr(hex(encode(d.text)),
                         CAST(f.frame_idx * 32 + 1 AS BIGINT), 32))
             AS frame_sha
    FROM frames f JOIN documents d USING (doc_id)
    WHERE f.frame_idx % 4 = 0
    """,
    tags=("L10", "F5"),
)
def l10c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque binary payload (the video
    frame-sample shape): payload → fixed 16-byte frames → keep every
    4th → per-frame digest. The payload is the doc's utf-8 bytes
    (BinaryType end-to-end on the Spark side); the digest hashes the
    uppercase HEX of each byte slice so the DuckDB twin (VARCHAR-only
    sha256) can address the identical bytes via hex(encode(text)) —
    byte-true on any corpus, no ASCII assumption. A real codec
    replaces the fixed-width slicer with keyframe offsets; the
    explode/digest plumbing is unchanged.

    Scale: explode multiplies rows ×(frames/doc ÷ 4); all JVM-side
    (sequence + transform + substring on binary), no Python.
    """
    docs = load(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    n_frames = F.ceil(F.col("n_chars") / 16.0).cast("long")
    # Guard the explode: an EMPTY payload has zero frames. Without the
    # filter, sequence(0, -1) auto-steps DOWNWARD to [0, -1] — a
    # phantom frame 0 (plus a negative index) the oracle's range(0, 0)
    # never emits, silently diverging the gate on any corpus with an
    # empty document.
    frames = (
        docs.filter(n_frames > 0)
        .select(
            "doc_id",
            payload.alias("payload"),
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .filter(F.col("frame_idx") % 4 == 0)
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.sha2(
            F.hex(
                F.substring(F.col("payload"), F.col("frame_idx") * 16 + 1, 16)
            ),
            256,
        ).alias("frame_sha"),
    )


def _l10d_bits_sql(n_bits: int) -> str:
    """DuckDB twin of the block-bit fingerprint: bit i = parity of the
    first hex char of sha256(hex(block_i bytes)). Byte-true on ANY
    corpus: blocks are sliced from hex(encode(text)) — 2 hex chars per
    UTF-8 byte, so char positions 2·(i·bs)+1 … +2·bs address exactly
    the byte slice Spark's binary substring takes (this DuckDB's
    sha256 only accepts VARCHAR, hence hashing the uppercase hex of
    the bytes rather than the bytes themselves — both engines agree
    bit-for-bit, verified incl. out-of-range slices → sha of '').
    Generated as an explicit n_bits-term sum so both engines evaluate
    identical integer ops."""
    terms = [
        f"(ascii(substr(sha256(substr(h, CAST(2*{i}*bs+1 AS BIGINT), "
        f"CAST(2*bs AS BIGINT))), 1, 1)) % 2) * {1 << i}"
        for i in range(n_bits)
    ]
    return " + ".join(terms)


@query(
    "l10d_perceptual_neardup",
    # Integer/hex-deterministic end to end: block digests are sha256
    # over the hex of identical UTF-8 byte slices (byte-true on any
    # corpus, no ASCII assumption — see _l10d_bits_sql), the bit rule
    # is ascii-parity of one hex char, the fingerprint is an exact
    # 32-bit integer, and Hamming is bit_count(xor) — no float at all.
    sql=f"""
    WITH fp AS (
      SELECT doc_id, ({_l10d_bits_sql(32)})::BIGINT AS f
      FROM (SELECT doc_id, hex(encode(text)) AS h,
                   greatest(1, CAST(ceil(n_chars/32.0) AS BIGINT)) AS bs
            FROM documents)
    ),
    bands AS (
      SELECT doc_id, f, j, (f // power(256, j)::BIGINT) % 256 AS nib
      FROM fp, range(4) t(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.f AS fa, b.f AS fb
      FROM bands a
      JOIN bands b ON a.j = b.j AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3
    """,
    tags=("L10", "L3", "J1"),
)
def l10d_perceptual_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over opaque binary payloads — the
    image/video dedup shape [PK: block-mean perceptual hashing, e.g.
    Yang, Gu & Niu, "Block Mean Value Based Image Perceptual Hashing",
    IIH-MSP 2006]: normalize each payload to 32 fixed-width blocks
    (the 'resize' step), derive one bit per block from the block's
    content digest (identical block ⇒ identical bit, so payloads
    differing in k blocks are ≤ k Hamming apart), and find pairs
    within Hamming ≤ 3 by the pigeonhole band join (4 × 8-bit bands —
    the SimHash operator's near_pairs with explicit widths). A real
    image pipeline swaps the block-digest bit for the
    block-mean-vs-global-mean bit after decode; the fingerprint width,
    banding, and verify stages are unchanged.

    Plan shape for 100 TB: the fingerprint is one map-side pass (32
    JVM sha2/substring expressions, no Python, bytes never shuffle);
    the join carries only (doc_id, fingerprint) pairs — 12 bytes a
    row — banded into 4 equi-keyed buckets; exact Hamming verify runs
    on candidates only. Band width is the candidate-volume lever:
    τ = 3 needs ≥ τ+1 = 4 intact-or-damaged bands for the pigeonhole,
    and making them as WIDE as the hash allows (8 bits here, not 4)
    shrinks each band's expected bucket to n/256 — measured at the 16×
    adversarial replica, 4-bit bands ran the candidate join ~16× hotter
    for identical output. Same candidate-driven discipline as l3b/l3c.
    """
    from nipd_spark.operators.simhash import near_pairs

    docs = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    bs = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.col("n_chars") / 32.0).cast("long")
    )
    base = docs.select("doc_id", payload.alias("payload"), bs.alias("bs"))
    fp = F.lit(0).cast("long")
    for i in range(32):
        # sha2 over the HEX of the byte slice (not the raw bytes): this
        # DuckDB's sha256 is VARCHAR-only, and hashing the shared
        # uppercase-hex rendering keeps the oracle byte-true for
        # non-ASCII text instead of assuming chars == bytes.
        block_sha = F.sha2(
            F.hex(
                F.substring(
                    F.col("payload"),
                    (F.lit(i) * F.col("bs") + 1),
                    F.col("bs"),
                )
            ),
            256,
        )
        bit = F.ascii(F.substring(block_sha, 1, 1)) % 2
        fp = fp + bit.cast("long") * F.lit(1 << i).cast("long")
    sigs = base.select("doc_id", fp.alias("simhash"))
    return near_pairs(sigs, max_hamming=3, n_bands=4, band_bits=8).select(
        "a_id", "b_id", F.col("hamming").cast("long").alias("hamming")
    )
