"""Multimodal (image/audio/video) column plumbing.

Opaque media live as ``binary`` columns beside typed metadata
structs; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so the Python-side work is amortized per batch, not
per row — the only sane shape for 100 TB of media.

The actual codecs (PIL / librosa / ffmpeg) are NOT in this container,
so ``decode_image`` raises ``NotImplementedError`` unless
``fake=True``, which substitutes a deterministic byte-statistics
"decode" with the exact same schema/batching/partitioning — the
Spark-side plumbing is real and tested; only the codec call is
stubbed (per the driver contract).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_sum", LongType()),
        StructField("n_distinct_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("byte_entropy", DoubleType()),
    ]
)


def _dround4(x: float) -> float:
    """Python twin of queries.base.dround(·, 4): quantize the
    shortest decimal repr HALF_UP — Python's round() is banker's,
    which diverges from both engines on exact ties (e.g. byte means
    over power-of-two lengths are dyadic and CAN tie at 4 dp)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: pack the documents table into the media schema (text
    bytes as the opaque payload) so the binary plumbing is exercised
    on real driver testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        # octet_length on the STRING is the same UTF-8 byte count —
        # no second per-row encode of the full document
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


def decode_image(content: bytes, fake: bool = False) -> dict:
    """Codec stub. Real implementation would be
    ``PIL.Image.open(io.BytesIO(content))`` — the imaging libs are
    not in this container, so only the deterministic fake path runs.
    """
    if not fake:
        raise NotImplementedError(
            "image codecs (PIL/ffmpeg) are not available in this environment; "
            "call with fake=True for the deterministic byte-stats decode"
        )
    import math

    n = len(content)
    counts: dict[int, int] = {}
    for byte in content:
        counts[byte] = counts.get(byte, 0) + 1
    # integer-floor mean at 4 dp (the floor_ratio convention) —
    # matches extract_features / the x20 oracle exactly
    mean = (sum(content) * 10000 // n) / 10000.0 if n else 0.0
    ent = -sum((c / n) * math.log2(c / n) for c in counts.values()) if n else 0.0
    return {
        "n_bytes": n,
        "byte_sum": sum(content),
        "n_distinct_bytes": len(counts),
        "mean_byte": mean,
        "byte_entropy": ent,
    }


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary content.

    ``mapInPandas`` receives per-partition batch iterators; each batch
    is vectorized numpy work. Partitioning is whatever upstream chose
    — media tables should be written with size-balanced files so
    batches are uniform.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure: worker processes may not have the
        # package on sys.path (the driver harness runs from outside
        # the repo), so no module-level references may leak in here
        import numpy as np
        from decimal import ROUND_HALF_UP, Decimal

        def dr4(x: float) -> float:
            return float(
                Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP)
            )

        for pdf in batches:
            out_rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                # NULL content is "no blob", not "the empty blob"
                # (r13 probe; the fingerprint NULL-isolation
                # convention): n_bytes stays NULL, stats are the
                # additive zeros — exactly the oracle's
                # octet_length(NULL) + COALESCE(stat, 0) shape. An
                # EMPTY blob keeps n_bytes 0.
                if content is None:
                    out_rows.append((int(mid), None, 0, 0, 0.0, 0.0))
                    continue
                buf = np.frombuffer(content, dtype=np.uint8)
                n = int(buf.size)
                if n:
                    counts = np.bincount(buf, minlength=256)
                    bsum = int(buf.sum(dtype=np.int64))
                    ndis = int((counts > 0).sum())
                    p = counts[counts > 0] / n
                    ent = float(-(p * np.log2(p)).sum())
                    # integer-floor at 4 dp (the x33/floor_ratio
                    # convention): byte_sum/n_bytes is dyadic on
                    # power-of-two lengths and can tie exactly at
                    # 4 dp, where HALF_UP and DuckDB's double→decimal
                    # cast disagree — all-integer floor cannot.
                    mean = (bsum * 10000 // n) / 10000.0
                else:
                    bsum, ndis, ent, mean = 0, 0, 0.0, 0.0
                out_rows.append((int(mid), n, bsum, ndis, mean, dr4(ent)))
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "byte_sum",
                    "n_distinct_bytes",
                    "mean_byte",
                    "byte_entropy",
                ],
            )

    return media.select("media_id", "content").mapInPandas(_extract, FEATURE_SCHEMA)


# the resize target's width: cells per pooled row
GRID = 8


def resize_image(content: bytes, height: int, fake: bool = False) -> bytes:
    """Resize codec stub — the real path would be
    ``PIL.Image.open(...).resize((GRID, height))``; imaging libs are
    absent in this container, so only the deterministic fake
    (byte-grid pooling, see ``resize_byte_grid``) runs."""
    if not fake:
        raise NotImplementedError(
            "image codecs (PIL/ffmpeg) are not available in this environment; "
            "use resize_byte_grid for the deterministic pooled-grid fake"
        )
    n = len(content)
    if n == 0:
        return b""
    cells = GRID * height
    sums = [0] * cells
    counts = [0] * cells
    for j, b in enumerate(content):
        c = (j * cells) // n
        sums[c] += b
        counts[c] += 1
    # blobs shorter than the grid leave some cells empty; skip them so
    # the scalar fake agrees row-for-row with resize_byte_grid (which
    # only emits populated cells)
    return bytes(s // c for s, c in zip(sums, counts) if c)


def resize_byte_grid(media: DataFrame) -> DataFrame:
    """The "resize" stage of a media pipeline as Arrow-batched
    mapInPandas plumbing: each blob's byte stream pools into ``GRID``
    equal-width cells (cell of byte j = (j·GRID) // n — the exact
    integer mapping a nearest-neighbor 1-D downsample uses), emitting
    per-cell byte counts, sums, and the integer-floor mean at 4 dp
    (the floor_ratio convention — cell means are count ratios and can
    tie). Real image resize would replace the pooling kernel inside
    the same batch loop; schema, partitioning, and batch shape are
    the production plumbing. Row-parallel, no shuffle."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (worker may not have the package on
        # sys.path — same constraint as extract_features)
        import numpy as np

        g = GRID

        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                buf = np.frombuffer(content or b"", dtype=np.uint8)
                n = int(buf.size)
                if not n:
                    continue
                cells = (np.arange(n, dtype=np.int64) * g) // n
                sums = np.bincount(cells, weights=buf, minlength=g).astype(np.int64)
                counts = np.bincount(cells, minlength=g).astype(np.int64)
                for c in range(g):
                    if counts[c]:
                        mean = (int(sums[c]) * 10000 // int(counts[c])) / 10000.0
                        out.append((int(mid), c, int(counts[c]), int(sums[c]), mean))
            yield pd.DataFrame(
                out,
                columns=["media_id", "cell_idx", "n_cell_bytes", "cell_sum", "cell_mean"],
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("cell_idx", LongType()),
            StructField("n_cell_bytes", LongType()),
            StructField("cell_sum", LongType()),
            StructField("cell_mean", DoubleType()),
        ]
    )
    return media.select("media_id", "content").mapInPandas(_resize, schema)
