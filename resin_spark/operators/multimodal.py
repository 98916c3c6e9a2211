"""Multimodal column plumbing (SURVEY.md §2 block F).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata. The Spark-side plumbing — binary Arrow batches through
``mapInPandas``, explicit output schemas, per-batch vectorised work —
is real and tested; the *decode* step is a deterministic fake (media
codecs aren't in this container): metadata is derived from the md5 of
the payload bytes and frame "contents" are byte slices. A real decoder
(PIL / soundfile / pyav) drops into ``_decode_real`` unchanged — the
schema, batching, and partitioning stay identical.

The correctness oracle exploits that the test corpus is ASCII, so
DuckDB's ``md5(substring(coalesce(text, ''), …))`` hashes the same bytes the Spark
side slices from the binary payload. The Spark path itself is
byte-correct for arbitrary binary input.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Tables = dict[str, DataFrame]

FORMATS = ("jpeg", "png", "webp")
HEX = "0123456789abcdef"

try:  # pragma: no cover - codecs absent in this container
    from PIL import Image  # noqa: F401
    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def _decode_real(payload: bytes) -> tuple[int, int]:  # pragma: no cover
    """Real image decode — requires PIL; see module docstring."""
    if not HAVE_PIL:
        raise NotImplementedError(
            "real media decode needs PIL; this container uses the "
            "deterministic fake decode path"
        )
    import io

    from PIL import Image
    with Image.open(io.BytesIO(payload)) as im:
        return im.width, im.height


def with_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload: binary). Stand-in media column.

    NULL text coalesces to b'' (n_bytes 0, md5 of the empty payload) —
    the adjudicated NULL-payload semantics from the r6 degenerate-
    dataset scan; a NULL would otherwise reach the Arrow UDFs as None
    and md5(None) throws. Oracles mirror with coalesce(text, '')."""
    return docs.select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        .alias("payload"))


def binary_meta(t: Tables) -> DataFrame:
    """F1: typed metadata from opaque binary media.

    One ``mapInPandas`` pass: payload bytes → (size, container format,
    width, height, checksum). The fake decode derives width/height from
    the payload's md5 so it is content-determined, byte-exact, and
    engine-checkable. Per-row work is independent → scales linearly;
    no shuffle at all until the final presentation orderBy. The batch
    face is :func:`payload_meta_frame` (shared verbatim with the
    streaming twin) plus the presentation sort.
    """
    return payload_meta_frame(with_payload(t["documents"])).orderBy("doc_id")


def _hex_to_int_sql(expr: str) -> str:
    return (
        f"list_reduce(list_transform(string_split({expr}, ''),"
        f" c -> CAST(strpos('{HEX}', c) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
    )


def binary_meta_oracle() -> str:
    fmts = ", ".join(f"'{f}'" for f in FORMATS)
    return f"""
    SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n_bytes,
           [{fmts}][(octet_length(encode(coalesce(text, ''))) % {len(FORMATS)}) + 1] AS format,
           16 + {_hex_to_int_sql("substr(md5(coalesce(text, '')), 1, 6)")} % 1024 AS width,
           16 + {_hex_to_int_sql("substr(md5(coalesce(text, '')), 7, 6)")} % 768 AS height,
           md5(coalesce(text, '')) AS checksum
    FROM documents ORDER BY doc_id
    """


MAX_W, MAX_H = 336, 336  # target box, ViT-ish input size


def resize_plan(t: Tables) -> DataFrame:
    """F3: aspect-preserving resize planning for image payloads.

    Computes the output geometry of fitting each (width, height) —
    taken from binary_meta's decode — into a MAX_W×MAX_H box without
    distortion: integer scaled dims and the resulting pixel reduction.
    The arithmetic is pure JVM column math over the decoded metadata;
    a real resampler consumes exactly this plan per batch. This is the
    shape of pipeline preprocessing at scale: plan relationally,
    execute the heavy kernel in the Arrow batch that already carries
    the payload.
    """
    m = binary_meta(t).select("doc_id", "width", "height")
    # scale = min(MAX_W/w, MAX_H/h, 1.0), integer floor output dims
    scale = F.least(
        F.lit(MAX_W) / F.col("width"),
        F.lit(MAX_H) / F.col("height"),
        F.lit(1.0),
    )
    return (
        m.withColumn("out_w", F.floor(F.col("width") * scale).cast("long"))
        .withColumn("out_h", F.floor(F.col("height") * scale).cast("long"))
        .withColumn(
            "pixel_ratio",
            F.round((F.col("out_w") * F.col("out_h"))
                    / (F.col("width") * F.col("height")), 6),
        )
        .orderBy("doc_id")
    )


def resize_plan_oracle() -> str:
    w = f"""16 + {_hex_to_int_sql("substr(md5(coalesce(text, '')), 1, 6)")} % 1024"""
    h = f"""16 + {_hex_to_int_sql("substr(md5(coalesce(text, '')), 7, 6)")} % 768"""
    return f"""
    SELECT doc_id, width, height,
           CAST(floor(width * s) AS BIGINT) AS out_w,
           CAST(floor(height * s) AS BIGINT) AS out_h,
           round((CAST(floor(width * s) AS BIGINT) * CAST(floor(height * s) AS BIGINT))
                 / CAST(width * height AS DOUBLE), 6) AS pixel_ratio
    FROM (
        SELECT doc_id, width, height,
               LEAST({MAX_W} / CAST(width AS DOUBLE),
                     {MAX_H} / CAST(height AS DOUBLE), 1.0) AS s
        FROM (SELECT doc_id, {w} AS width, {h} AS height FROM documents)
    )
    ORDER BY doc_id
    """


N_FEATURES = 8


def feature_extract(t: Tables) -> DataFrame:
    """F4: fixed-width feature vector per binary payload.

    The fake featurizer derives N_FEATURES floats in [0, 1) from md5
    chunks of the payload — deterministic, content-addressed, and
    engine-checkable; a real model (CLIP etc.) replaces the per-batch
    function body while the mapInPandas schema, batching, and the
    downstream `array<double>` column contract stay identical (the
    E-block ANN operators consume this column as-is).
    """
    schema = "doc_id long, features array<double>"

    def gen(batches):
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                h = hashlib.md5(b).hexdigest()
                feats.append([int(h[i * 4:(i + 1) * 4], 16) / 65536.0
                              for i in range(N_FEATURES)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return with_payload(t["documents"]).mapInPandas(gen, schema).orderBy("doc_id")


def feature_extract_flat(t: Tables) -> DataFrame:
    """Driver-facing flat form of :func:`feature_extract`: one
    (doc_id, feat_idx, feature) row per vector slot. The array column
    is the right API for the E-block consumers, but the correctness
    driver canonicalises results through a pandas sort that dies on
    array cells (the round-2 sentence_vectors failure) — scalar rows
    hash cleanly on both engines. feat_idx is cast long to match
    DuckDB's range() output type. Feature values are dyadic rationals
    (x/2^16), so float64 bits agree bit-exactly across engines."""
    return (
        feature_extract(t)
        .select("doc_id", F.posexplode("features").alias("feat_idx", "feature"))
        .select("doc_id", F.col("feat_idx").cast("long").alias("feat_idx"),
                "feature")
        .orderBy("doc_id", "feat_idx")
    )


def feature_extract_flat_oracle() -> str:
    feat = _hex_to_int_sql("substr(md5(coalesce(text, '')), CAST(i * 4 + 1 AS INT), 4)")
    return f"""
    SELECT doc_id, i AS feat_idx, {feat} / 65536.0 AS feature
    FROM documents, range(0, {N_FEATURES}) AS r(i)
    ORDER BY doc_id, feat_idx
    """


MAX_FRAMES = 8
FRAME_SPACING = 256
FRAME_LEN = 64


def frame_sample(t: Tables) -> DataFrame:
    """F2: frame sampling from opaque "video" payloads.

    Each payload yields ``min(8, 1 + n_bytes // 256)`` evenly-strided
    frames; a frame is the md5 of its 64-byte slice (a real frame
    decoder would emit pixel tensors through the same batch shape).
    ``mapInPandas`` expands rows 1→N inside the executor — the Spark-side
    analog of frame extraction fan-out; downstream stages see a plain
    (doc_id, frame_idx, frame_off, frame_hash) relation.
    """
    schema = "doc_id long, frame_idx long, frame_off long, frame_hash string"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, hashes = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                n = len(b)
                n_frames = min(MAX_FRAMES, 1 + n // FRAME_SPACING)
                stride = n // n_frames
                for i in range(n_frames):
                    off = i * stride
                    ids.append(doc_id)
                    idxs.append(i)
                    offs.append(off)
                    hashes.append(hashlib.md5(b[off:off + FRAME_LEN]).hexdigest())
            yield pd.DataFrame({
                "doc_id": ids, "frame_idx": idxs,
                "frame_off": offs, "frame_hash": hashes,
            })

    return (
        with_payload(t["documents"])
        .mapInPandas(gen, schema)
        .orderBy("doc_id", "frame_idx")
    )


def frame_sample_oracle() -> str:
    return f"""
    WITH sized AS (
        SELECT doc_id, text, octet_length(encode(coalesce(text, ''))) AS n,
               LEAST({MAX_FRAMES}, 1 + octet_length(encode(coalesce(text, ''))) // {FRAME_SPACING}) AS n_frames
        FROM documents
    )
    SELECT doc_id, i AS frame_idx, i * (n // n_frames) AS frame_off,
           md5(substring(coalesce(text, ''), i * (n // n_frames) + 1, {FRAME_LEN})) AS frame_hash
    FROM sized, range({MAX_FRAMES}) t(i)
    WHERE i < n_frames
    ORDER BY doc_id, frame_idx
    """


def payload_meta_frame(docs: DataFrame) -> DataFrame:
    """F1 core without the presentation orderBy — shared verbatim by
    batch :func:`binary_meta` and the streaming twin (streams cannot
    globally sort; row CONTENT is the contract). Accepts either a raw
    documents frame (text is coalesced through :func:`with_payload`)
    or a frame already carrying a binary ``payload`` column.
    """
    schema = ("doc_id long, n_bytes long, format string, "
              "width long, height long, checksum string")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums = [hashlib.md5(b).hexdigest() for b in pdf["payload"]]
            n_bytes = [len(b) for b in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "format": [FORMATS[n % len(FORMATS)] for n in n_bytes],
                "width": [16 + int(s[:6], 16) % 1024 for s in sums],
                "height": [16 + int(s[6:12], 16) % 768 for s in sums],
                "checksum": sums,
            })

    payload = docs if "payload" in docs.columns else with_payload(docs)
    return payload.mapInPandas(gen, schema)
