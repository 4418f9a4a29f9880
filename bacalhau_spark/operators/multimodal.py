"""Multimodal (binary) column plumbing.

Reference capability: opaque binary inputs processed by containers
(`examples/image_downscaling/`). Spark-first restatement: media are opaque
``binary`` columns with typed metadata alongside; decode / feature-extract
runs as Arrow-batched ``mapInPandas`` — the one place Python is the right
tool, amortized over whole record batches.

The image decode is capability-probed: when PIL is importable,
``decode_image_real`` decodes actual bytes; without it, it raises a declared
NotImplementedError. The ORACLE-checked queries always use the deterministic
fake decoder (fixture payloads are text bytes, not images) so the Spark-side
plumbing — schema, batching, partitioning, UDF signature — is hash-checkable
against DuckDB in any environment.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bacalhau_spark.catalog import spread_compute, table
from bacalhau_spark.operators.buckets import (BUCKET_CAP, band_cols, bands,
                                              cand_count, pair_sides, pairs,
                                              postings)
from bacalhau_spark.sources.indexstore import cached_index, rowwise_index

FEATURE_SCHEMA = ("doc_id bigint, n_bytes int, width int, height int, "
                  "phash string")


def image_codec_available() -> bool:
    """Capability probe: can this environment decode real image bytes?"""
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        return False


def decode_bmp_gray(payload: bytes) -> tuple[int, int, list[int]]:
    """Dependency-free REAL decoder for uncompressed 24bpp BMP bytes:
    (width, height, top-down row-major grayscale pixels, integer
    luma (299r + 587g + 114b) // 1000). The container ships no image
    library, and the reference's image workload
    (examples/image_downscaling/) is exactly this shape — a format a
    few struct.unpack calls decode keeps the REAL-pixel path (decode →
    thumbnail → dHash → band join) exercisable end to end in any
    environment; PIL, when present, extends coverage to every other
    format through the same closures."""
    # ONE statement of the parse: delegate to the worker factory's
    # closure (r13 review — a drifted twin would make the driver-side
    # decode disagree with the executor-side decode for the same bytes)
    w, h, gray = _bmp_gray_fn()(payload)
    return w, h, [int(v) for v in gray.reshape(-1)]


def decode_image_real(payload: bytes) -> tuple[int, int, str]:
    """Real decoder: (width, height, pixel-content hash) from actual
    image bytes — PIL when present, the built-in BMP parser otherwise.
    Payloads neither can decode get the declared NotImplementedError —
    callers choose the fake-decode path (the oracle queries always do;
    see module docstring)."""
    import hashlib

    if image_codec_available():
        import io

        import numpy as np
        from PIL import Image
        img = Image.open(io.BytesIO(payload))
        width, height = img.size
        # CANONICAL content hash (r13 review): always the integer-luma
        # grayscale, whatever library decoded — PIL is only the
        # decoder, so identical bytes hash identically on a PIL-less
        # executor (the BMP path) and a PIL one, and dedup-by-hash
        # never splits on environment
        arr = np.asarray(img.convert("RGB"), dtype=np.int64)
        gray = (299 * arr[:, :, 0] + 587 * arr[:, :, 1]
                + 114 * arr[:, :, 2]) // 1000
        return width, height, hashlib.md5(
            gray.astype(np.uint8).tobytes()).hexdigest()
    try:
        w, h, gray = decode_bmp_gray(payload)
    except ValueError:
        raise NotImplementedError(
            "image decode requires PIL for non-BMP payloads; "
            "not available in this environment") from None
    return w, h, hashlib.md5(bytes(gray)).hexdigest()


def nd_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction. The documents table stands in for a
    media table: text bytes as the opaque payload. At 100 TB the payload
    column never leaves the executor — only the fixed-width features shuffle.

    The batch function is a self-contained closure (imports inside, no
    module-level references) so cloudpickle ships it by value — Python
    workers never need this package importable on their path.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # mapInPandas worker: one Arrow batch in, one feature batch out.
        import hashlib as _hashlib

        import pandas as _pd

        def fake_decode(payload: bytes) -> tuple[int, int, str]:
            # Deterministic fake decode: dimensions derived from the content
            # hash. Stands in for decode_image_real (see module docstring).
            h = _hashlib.md5(payload).hexdigest()
            return (int(h[0:2], 16) % 512) + 16, (int(h[2:4], 16) % 512) + 16, h

        for pdf in batches:
            decoded = [fake_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": [len(p) for p in pdf["payload"]],
                "width": [d[0] for d in decoded],
                "height": [d[1] for d in decoded],
                "phash": [d[2] for d in decoded],
            })

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return docs.mapInPandas(decode_batches, FEATURE_SCHEMA).orderBy("doc_id")


def multimodal_features_real(docs: DataFrame) -> DataFrame:
    """Capability-probed feature extraction over a (doc_id, payload binary)
    frame: payloads PIL can decode yield true dimensions + pixel hash;
    everything else (no codec installed, corrupt/non-image bytes) falls back
    to the deterministic fake PER PAYLOAD — the production posture for a
    100 TB media corpus, where one bad blob must never fail the batch. The
    probe runs inside the worker closure so executors decide from their own
    environment."""

    # factory called DRIVER-side: the closure captures the returned
    # LOCAL function (ships by value); a module-global reference inside
    # the worker closure would pickle by name and break foreign-cwd runs
    _bmp_gray = _bmp_gray_fn()

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io

        import numpy as _np
        import pandas as _pd
        try:
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def fake_decode(payload: bytes) -> tuple[int, int, str]:
            h = _hashlib.md5(payload).hexdigest()
            return (int(h[0:2], 16) % 512) + 16, (int(h[2:4], 16) % 512) + 16, h

        def best_decode(payload: bytes) -> tuple[int, int, str]:
            if _Image is not None:
                try:
                    img = _Image.open(_io.BytesIO(payload))
                    width, height = img.size
                    # canonical integer-luma hash — identical to the
                    # PIL-less BMP path for the same bytes (r13 review)
                    arr = _np.asarray(img.convert("RGB"),
                                      dtype=_np.int64)
                    gray = (299 * arr[:, :, 0] + 587 * arr[:, :, 1]
                            + 114 * arr[:, :, 2]) // 1000
                    return (width, height, _hashlib.md5(
                        gray.astype(_np.uint8).tobytes()).hexdigest())
                except Exception:  # fall through to the BMP parser
                    pass
            try:  # dependency-free REAL decode for 24bpp BMP
                w, h, gray = _bmp_gray(payload)
                return w, h, _hashlib.md5(
                    gray.astype("uint8").tobytes()).hexdigest()
            except Exception:  # not decodable — deterministic fallback
                return fake_decode(payload)

        for pdf in batches:
            decoded = [best_decode(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": [len(p) for p in pdf["payload"]],
                "width": [d[0] for d in decoded],
                "height": [d[1] for d in decoded],
                "phash": [d[2] for d in decoded],
            })

    return docs.mapInPandas(decode_batches, FEATURE_SCHEMA)


def _bmp_gray_fn():
    """FACTORY for the worker-side BMP grayscale decode — a local
    closure ships by value under cloudpickle (the pandas_udf factory
    rule), so mapInPandas workers never need this module importable.
    Same math as decode_bmp_gray (the driver-side API); the pixel loop
    is numpy-vectorized here (a 4K frame is 8M pixels — a Python
    per-pixel loop would take seconds per image; frombuffer + strided
    reshape + one integer luma matmul is the batch-shape-appropriate
    inner loop)."""
    import struct

    import numpy as np

    def bmp_gray(payload: bytes) -> tuple[int, int, "np.ndarray"]:
        payload = bytes(payload)
        if payload[:2] != b"BM":
            raise ValueError("not a BMP payload")
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        (off,) = struct.unpack_from("<I", payload, 10)
        _hs, w, h, _pl, bpp = struct.unpack_from("<IiiHH", payload, 14)
        (comp,) = struct.unpack_from("<I", payload, 30)
        if bpp != 24 or comp != 0 or w <= 0 or h == 0:
            raise ValueError("unsupported BMP variant")
        stride = (w * 3 + 3) // 4 * 4
        bottom_up, ah = h > 0, abs(h)
        if off + stride * ah > len(payload):
            raise ValueError("truncated BMP payload")
        raw = (np.frombuffer(payload, dtype=np.uint8,
                             count=stride * ah, offset=off)
               .reshape(ah, stride)[:, :w * 3]
               .reshape(ah, w, 3).astype(np.int64))
        if bottom_up:
            raw = raw[::-1]
        # BGR -> integer luma, identical to the scalar form
        gray = (299 * raw[:, :, 2] + 587 * raw[:, :, 1]
                + 114 * raw[:, :, 0]) // 1000
        return w, ah, gray  # (h, w) int64 matrix, top-down

    return bmp_gray


def _thumb_bands_fn():
    """Factory for the REAL-path frame helpers (ship-by-value rule):
    `thumb` block-means an (h, w) grayscale matrix (or a flat list)
    onto the 8-row x 9-col grid with numpy slice-sums, and `bands`
    packs the 64 dHash gradient-sign bits into four 16-bit integers —
    the one statement of the thumbnail/bit layout."""
    import numpy as np

    def thumb(gray, w=None, h=None):
        g = np.asarray(gray, dtype=np.int64)
        if g.ndim == 1:
            g = g.reshape(h, w)
        h, w = g.shape
        px = []
        for r in range(8):
            y0 = r * h // 8
            y1 = min(max((r + 1) * h // 8, y0 + 1), h)
            for c in range(9):
                x0 = c * w // 9
                x1 = min(max((c + 1) * w // 9, x0 + 1), w)
                blk = g[y0:y1, x0:x1]
                px.append(int(blk.sum()) // max(blk.size, 1))
        return px

    def bands(px):
        out = []
        for b in range(4):
            v = 0
            for i in range(16):
                j = 16 * b + i
                r, c = j // 8, j % 8
                g = r * 9 + c
                if px[g] > px[g + 1]:
                    v |= 1 << i
            out.append(v)
        return out

    return thumb, bands


def real_binary_table(spark: SparkSession, path: str) -> DataFrame:
    """A directory of real media FILES as a (doc_id, path, payload)
    frame via Spark's binaryFile source — the reference's
    examples/image_downscaling/ input shape (files on disk, not fixture
    columns). doc_id is the row number over sorted path: fine for a
    fixture directory; a production corpus carries its ids upstream
    (the Window over path would serialize a 100 TB listing)."""
    from pyspark.sql.window import Window

    df = (spark.read.format("binaryFile").load(path)
          .select("path", F.col("content").alias("payload")))
    return df.select(
        F.row_number().over(Window.orderBy("path"))
        .cast("long").alias("doc_id"), "path", "payload")


REAL_PHASH_SCHEMA = ("doc_id bigint, width int, height int, "
                     "decoder string, b0 bigint, b1 bigint, "
                     "b2 bigint, b3 bigint")


def image_phash_real_frame(bin_df: DataFrame) -> DataFrame:
    """REAL-pixel dHash over a (doc_id, payload binary) frame: decode
    (PIL when importable, the built-in 24bpp-BMP parser otherwise, the
    deterministic fake per undecodable payload), block-mean to the
    8x9 grayscale thumbnail, pack the 64 gradient-sign bits into the
    SAME four 16-bit bands as phash_frame — so phash_candidate_pairs
    and the Hamming verify compose unchanged over real pixels. This is
    the capability path the fake-decode oracle rows stand in for; the
    `decoder` column says which path each payload actually took."""

    _bmp_gray = _bmp_gray_fn()  # driver-side: ship the locals by value
    thumb, bands = _thumb_bands_fn()

    def batches(it):
        import hashlib as _hashlib
        import io as _io

        import numpy as _np
        import pandas as _pd
        try:
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def fake_px(payload):
            h = _hashlib.md5(payload).hexdigest()
            return [int(_hashlib.md5(f"{h}:{g}".encode())
                        .hexdigest()[:2], 16) for g in range(72)], 0, 0

        def decode(payload):
            payload = bytes(payload)
            if _Image is not None:
                try:
                    # canonical integer-luma plane (r13 review): PIL is
                    # only the decoder — convert('L') rounds ±1 vs the
                    # integer fold and would band the same file
                    # differently per environment
                    img = _Image.open(_io.BytesIO(payload))
                    w, h = img.size
                    arr = _np.asarray(img.convert("RGB"),
                                      dtype=_np.int64)
                    gray = (299 * arr[:, :, 0] + 587 * arr[:, :, 1]
                            + 114 * arr[:, :, 2]) // 1000
                    return thumb(gray, w, h), w, h, "pil"
                except Exception:
                    pass
            try:
                w, h, gray = _bmp_gray(payload)
                return thumb(gray, w, h), w, h, "bmp"
            except Exception:
                px, w, h = fake_px(payload)
                return px, w, h, "fake"

        for pdf in it:
            rows = {"doc_id": [], "width": [], "height": [],
                    "decoder": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px, w, h, dec = decode(payload)
                bb = bands(px)
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["decoder"].append(dec)
                for i in range(4):
                    rows[f"b{i}"].append(bb[i])
            yield _pd.DataFrame(rows)

    return bin_df.select("doc_id", "payload").mapInPandas(
        batches, REAL_PHASH_SCHEMA)


N_FRAMES = 3
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_hash string, n_bytes int"


def nd_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one input blob fans out to N_FRAMES sampled-frame
    rows (the video/audio segment shape) — a 1-to-N mapInPandas. The frame
    decode is the deterministic fake (md5-derived; a real build swaps in the
    codec, same schema/batching). The payload column is consumed inside the
    executor; only fixed-width frame rows come out."""

    def sample_batches(batches):
        import hashlib as _hashlib

        import pandas as _pd

        n_frames = 3
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hash": [],
                   "n_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                base = _hashlib.md5(payload).hexdigest()
                for i in range(n_frames):
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(i)
                    out["frame_hash"].append(
                        _hashlib.md5(f"{base}:{i}".encode()).hexdigest())
                    out["n_bytes"].append(len(payload))
            yield _pd.DataFrame(out)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return (docs.mapInPandas(sample_batches, FRAME_SCHEMA)
            .orderBy("doc_id", "frame_idx"))


RESIZE_TARGET_W = 128
RESIZE_SCHEMA = ("doc_id bigint, width int, height int, new_width int, "
                 "new_height int, resized_hash string")


def nd_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize to a fixed target width — the image
    normalization step before feature extraction in a multimodal training
    pipeline. Decode + resize happen in ONE mapInPandas pass (the payload
    is consumed where it is read, never shuffled; only fixed-width
    dimension/hash rows come out). The resize itself is the deterministic
    fake (integer aspect math on the fake-decoded dims + a derived content
    hash); a real build swaps PIL's resampling into the same closure, same
    schema. new_height uses floor division so the oracle's integer `//`
    matches exactly."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        target_w = 128

        def fake_decode(payload: bytes) -> tuple[int, int, str]:
            h = _hashlib.md5(payload).hexdigest()
            return (int(h[0:2], 16) % 512) + 16, (int(h[2:4], 16) % 512) + 16, h

        for pdf in batches:
            rows = {"doc_id": [], "width": [], "height": [],
                    "new_width": [], "new_height": [], "resized_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, phash = fake_decode(payload)
                nh = max(1, (h * target_w) // w)
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["new_width"].append(target_w)
                rows["new_height"].append(nh)
                rows["resized_hash"].append(_hashlib.md5(
                    f"{phash}:{target_w}x{nh}".encode()).hexdigest())
            yield _pd.DataFrame(rows)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return docs.mapInPandas(resize_batches, RESIZE_SCHEMA).orderBy("doc_id")


AUDIO_WINDOW = 256
AUDIO_SCHEMA = ("doc_id bigint, n_windows int, total_energy bigint, "
                "peak_energy bigint")


def nd_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-analysis plumbing: treat the payload as 8-bit PCM, compute
    per-window energy (sum of squared centered samples over fixed
    AUDIO_WINDOW-byte windows) and report per clip the window count,
    total and peak energy — the VAD/silence-screen shape of an audio
    curation pipeline. Unlike the image ops this needs NO fake decode:
    byte arithmetic IS the DSP for 8-bit PCM, so the whole computation is
    integer-exact over the real payload bytes and hash-gated.

    The executor side is the real scale pattern for media: numpy over
    Arrow batches inside mapInPandas (vectorized square/reshape/sum per
    batch — no per-sample Python), payload consumed where it is read,
    only fixed-width stats rows come out."""

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        w = 256
        for pdf in batches:
            rows = {"doc_id": [], "n_windows": [], "total_energy": [],
                    "peak_energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = (_np.frombuffer(payload, dtype=_np.uint8)
                     .astype(_np.int64) - 128)
                nw = max(1, -(-len(x) // w))
                padded = _np.zeros(nw * w, dtype=_np.int64)
                padded[:len(x)] = x  # zero pad AFTER centering: no energy
                e = (padded * padded).reshape(nw, w).sum(axis=1)
                rows["doc_id"].append(int(doc_id))
                rows["n_windows"].append(nw)
                rows["total_energy"].append(int(e.sum()))
                rows["peak_energy"].append(int(e.max()))
            yield _pd.DataFrame(rows)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"))
    return docs.mapInPandas(energy_batches, AUDIO_SCHEMA).orderBy("doc_id")


# Byte-based oracle: iterate the UTF-8 ENCODING of the text (hex() of the
# blob, two hex digits per byte), exactly what the Spark side's
# F.encode("utf-8") + np.frombuffer(uint8) sees — character-based ascii()
# would silently diverge on any non-ASCII fixture. greatest(n, 1) plus the
# CASE-pad mirrors the Spark side's empty-payload convention (one
# zero-energy window) and its zero-pad-after-centering of the last window.
_AUDIO_ORACLE = f"""
WITH enc AS (SELECT doc_id, hex(encode(text)) AS h,
                    octet_length(encode(text)) AS n
             FROM documents),
b AS (SELECT doc_id, i,
             CASE WHEN i < n THEN
                 (strpos('0123456789ABCDEF',
                         substring(h, CAST(2 * i + 1 AS INTEGER), 1)) - 1)
                 * 16
                 + (strpos('0123456789ABCDEF',
                           substring(h, CAST(2 * i + 2 AS INTEGER), 1)) - 1)
                 - 128
             ELSE 0 END AS v
      FROM enc CROSS JOIN LATERAL
          (SELECT unnest(range(greatest(n, 1))) AS i) t),
w AS (SELECT doc_id, i // {AUDIO_WINDOW} AS widx, SUM(v * v) AS e
      FROM b GROUP BY doc_id, i // {AUDIO_WINDOW})
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_windows,
       CAST(SUM(e) AS BIGINT) AS total_energy,
       CAST(MAX(e) AS BIGINT) AS peak_energy
FROM w GROUP BY doc_id ORDER BY doc_id
"""


# --- image near-dup: dHash + Hamming banding ----------------------------------
# The image modality of the dedup plane: a
# perceptual difference hash over decoded thumbnails, bucketed by Hamming
# BANDS so candidate generation is never all-pairs — the simhash band
# machinery applied to pixels. Reference capability citation: the image
# workload examples/image_downscaling/ (the reference downscales images in
# containers; a curation pipeline needs the near-dup screen over them).
#
# Pipeline (all stages modality-real; only the decode is the deterministic
# fake, per the module convention):
#   decode   -> an 8x9 grayscale thumbnail per document. No image bytes in
#               the fixture, so pixels are synthesized from doc_id with a
#               CONTROLLED near-dup structure (the nd_pii_redact synthesis
#               convention): base image = doc_id div PHASH_FAMILY, pixel =
#               md5(base:cell) in [0,256); variants (doc_id % PHASH_FAMILY
#               != 0) perturb ~2 cells by +40 — the re-encode/resize noise
#               a real pipeline sees. A real decoder plugs in by replacing
#               the pixel expressions with decoder output (the mapInPandas
#               plumbing above); everything downstream is unchanged.
#   dHash    -> 64 gradient-sign bits (cell > right neighbor over the 8
#               rows of 9), packed as four 16-bit band integers b0..b3 —
#               integer-exact, cross-engine (md5 + conv convention).
#   band join-> docs sharing ANY band value are candidates (a near-dup
#               with <= a few flipped bits almost always leaves one band
#               intact); buckets above buckets.BUCKET_CAP are dropped
#               before pair expansion.
#   verify   -> exact Hamming distance over the 64 bits (xor + bit_count),
#               keep <= PHASH_MAX_HAMMING. Fixture separation: same-base
#               pairs measure hamming 0-5, cross-base >= 14, so the
#               gate is wide.
PHASH_FAMILY = 7
PHASH_MAX_HAMMING = 10
_PHASH_GRID_W = 9  # 9 columns -> 8 horizontal gradients per row
_PHASH_ROWS = 8


def _phash_pixel_sql(g: int) -> str:
    """Pixel g of the deterministic thumbnail, as engine-shared SQL
    (DuckDB form; the Spark twin differs only in hex-int syntax)."""
    base = (f"CAST('0x' || substring(md5(CAST(doc_id // {PHASH_FAMILY} AS "
            f"VARCHAR) || ':{g}'), 1, 15) AS BIGINT) % 256")
    pert = (f"(CASE WHEN doc_id % {PHASH_FAMILY} > 0 AND "
            f"({g} * {PHASH_FAMILY} + doc_id % {PHASH_FAMILY}) % 31 = 0 "
            f"THEN 40 ELSE 0 END)")
    return f"({base} + {pert})"


def _phash_pixel_spark(g: int) -> str:
    base = (f"CAST(conv(substring(md5(CAST(doc_id div {PHASH_FAMILY} AS "
            f"STRING) || ':{g}'), 1, 15), 16, 10) AS BIGINT) % 256")
    pert = (f"(CASE WHEN doc_id % {PHASH_FAMILY} > 0 AND "
            f"({g} * {PHASH_FAMILY} + doc_id % {PHASH_FAMILY}) % 31 = 0 "
            f"THEN 40 ELSE 0 END)")
    return f"({base} + {pert})"


def _phash_band_exprs(pixel_fn) -> list[str]:
    """The four 16-bit dHash band integers as SQL text — ONE loop emits
    both engines' expressions so the bit layout cannot drift."""
    bands = []
    for b in range(4):
        terms = []
        for i in range(16):
            j = 16 * b + i
            r, c = j // _PHASH_ROWS, j % _PHASH_ROWS
            g = r * _PHASH_GRID_W + c
            terms.append(f"(CASE WHEN {pixel_fn(g)} > {pixel_fn(g + 1)} "
                         f"THEN {1 << i} ELSE 0 END)")
        bands.append("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return bands


def phash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b3): the packed dHash per document — pure per-row
    codegen (md5 + integer arithmetic), the only thing that ever
    shuffles downstream. 4 x 2 bytes per image regardless of image
    size: the index an exabyte image corpus actually exchanges.

    The pixel grid is PROJECTED as one 72-element array column first
    and the gradient bits index it — the round-4 rule (any expression
    referenced inside several consumers must be a projected column):
    inlining the md5 pixel expression into every bit reference made
    Catalyst evaluate each pixel once per referencing bit across the
    four band projections (~2x the md5 work; the same inlining class
    that cost 50x on minhash)."""
    px = F.array(*[F.expr(_phash_pixel_spark(g))
                   for g in range(_PHASH_ROWS * _PHASH_GRID_W)])
    wide = docs.select("doc_id", px.alias("px"))
    bands = _phash_band_exprs(lambda g: f"px[{g}]")
    return wide.select(
        "doc_id", *[F.expr(e).alias(f"b{i}") for i, e in enumerate(bands)])


def phash_candidate_pairs(hashes: DataFrame) -> DataFrame:
    """Distinct (a_id < b_id) pairs sharing at least one band value over
    a (doc_id, b0..bN) hash frame. The bucket key is (band index, value):
    4 bands for the single-hash modalities, frames x 4 for video, where
    the band index carries the frame position so only time-aligned band
    matches become candidates."""
    return pairs(postings(bands(hashes), "bi", "bkey")).distinct()


def phash_verify(hashes: DataFrame, sides: DataFrame,
                 max_hamming: int) -> DataFrame:
    """(a_id, b_id, hamming) for the candidate pairs whose exact
    xor+bit_count Hamming distance over the band columns of `hashes` is
    <= max_hamming; `sides` is buckets.pair_sides of the candidates."""
    ham = sum(
        F.expr(f"bit_count(max(CASE WHEN doc_id = a_id THEN {b} END) ^ "
               f"max(CASE WHEN doc_id = b_id THEN {b} END))")
        for b in band_cols(hashes))
    return (hashes.join(sides, "doc_id")
            .groupBy("a_id", "b_id")
            .agg(ham.cast("long").alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .orderBy("a_id", "b_id"))


def _phash_pairs_verify(spark: SparkSession, sf_dir: str,
                        hashes: DataFrame, *, max_hamming: int,
                        cand_kind: str) -> DataFrame:
    """The banded near-dup pair pipeline of every modality: the
    candidate pairs are a persisted index kind (`cand_kind`, rebuilt
    when the corpus changes: the minhash cand delta's guards do not
    carry over to Hamming bands), verified by phash_verify."""
    cand = cached_index(spark, sf_dir, cand_kind,
                        lambda: phash_candidate_pairs(hashes))
    sides = pair_sides(cand, cand_count(spark, sf_dir, cand, cand_kind))
    return phash_verify(hashes, sides, max_hamming)


def phash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dHash table as a shared PERSISTED index (the
    minhash_signature_index lifecycle): decode+hash once per
    source-content fingerprint, publish to the versioned store, every
    consumer — candidate generation, verification, this session or the
    next — scans the artifact. Also the plan fix for branch sharing:
    the candidate explode and the verify gather both consume `hashes`,
    and Spark never shares subplans across DataFrame branches, so the
    un-indexed form re-decoded every thumbnail per branch."""
    # spread_compute: the per-doc hash build is 72 md5 cells/doc of
    # pure projection CPU over a ONE-row-group scan at fixture scale —
    # without the exchange the whole build (and therefore the cold
    # ingest cost) runs in a single task at ANY core count. Per-row map,
    # so values are partitioning-invariant; no-op at corpus scale
    # (>= cores splits).
    return rowwise_index(
        spark, sf_dir, "phash",
        lambda docs: phash_frame(spread_compute(
            spark, docs.select("doc_id"), "doc_id")))


# Pixel convention for the REAL-decoder round-trip row: md5-derived
# like _phash_pixel but bounded to a VALID BYTE (base % 216 + the
# 40-bump perturbation <= 255) so the value survives BMP encoding
# bit-for-bit. Stated once for the Spark builder and the oracle.
def _rt_pixel_sql(g: str, engine: str) -> str:
    conv = ("CAST(conv(substring(md5(CAST(doc_id div 7 AS STRING) "
            f"|| ':' || CAST({g} AS STRING)), 1, 15), 16, 10) AS BIGINT)"
            if engine == "spark" else
            "CAST('0x' || substring(md5(CAST(doc_id // 7 AS VARCHAR) "
            f"|| ':' || CAST({g} AS VARCHAR)), 1, 15) AS BIGINT)")
    return (f"({conv} % 216 + (CASE WHEN doc_id % 7 > 0 AND "
            f"(({g}) * 7 + doc_id % 7) % 31 = 0 THEN 40 ELSE 0 END))")


def nd_image_phash_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL decode plumbing as a HASH-GATED row: per document,
    synthesize a 9x8 grayscale image from the deterministic md5 pixel
    convention, ENCODE it as actual 24bpp BMP bytes (bottom-up,
    stride-padded — a real file on the wire), push the bytes through
    image_phash_real_frame's REAL parser (PIL or the struct decoder —
    both canonicalize to the same integer luma since r13, so the row is
    environment-stable), and emit the dHash bands. At 9x8 the
    block-mean thumbnail is the identity and grayscale luma is the
    identity, so encode → parse → thumb → band must reproduce the pure
    pixel arithmetic EXACTLY — which is what the DuckDB oracle states,
    never having seen a byte of BMP. A corrupted stride, a flipped row
    order, a luma drift, or a thumbnail off-by-one all hash-fail here;
    the `decoder` column is deliberately not emitted (it names which
    REAL path ran — env-dependent — while the values are not)."""

    def encode_batches(it):
        import struct as _struct

        import hashlib as _hashlib
        import pandas as _pd

        def px(doc_id, g):
            base = int(_hashlib.md5(
                f"{doc_id // 7}:{g}".encode()).hexdigest()[:15], 16) % 216
            pert = 40 if (doc_id % 7 > 0
                          and (g * 7 + doc_id % 7) % 31 == 0) else 0
            return base + pert

        def bmp(doc_id):
            w, h = 9, 8
            stride = (w * 3 + 3) // 4 * 4
            body = bytearray()
            for y in range(h - 1, -1, -1):  # bottom-up rows
                line = bytearray()
                for x in range(w):
                    v = px(doc_id, y * w + x)
                    line += bytes((v, v, v))
                line += bytes(stride - len(line))
                body += line
            header = (b"BM"
                      + _struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
                      + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                                     len(body), 2835, 2835, 0, 0))
            return bytes(header + body)

        for pdf in it:
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "payload": [bmp(int(d)) for d in pdf["doc_id"]]})

    docs = table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.mapInPandas(encode_batches,
                                "doc_id bigint, payload binary")
    return (image_phash_real_frame(payloads)
            .select("doc_id", "b0", "b1", "b2", "b3")
            .orderBy("doc_id"))


def _image_phash_real_oracle() -> str:
    packs = []
    for b in range(4):
        terms = []
        for i in range(16):
            j = 16 * b + i
            r, c = j // _PHASH_ROWS, j % _PHASH_ROWS
            g = r * _PHASH_GRID_W + c
            terms.append(
                f"(CASE WHEN {_rt_pixel_sql(str(g), 'duck')} > "
                f"{_rt_pixel_sql(str(g + 1), 'duck')} "
                f"THEN {1 << i} ELSE 0 END)")
        packs.append("CAST(" + " + ".join(terms) + f" AS BIGINT) AS b{b}")
    return ("SELECT doc_id, " + ", ".join(packs)
            + " FROM documents ORDER BY doc_id")


def nd_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: dHash thumbnails, band-bucketed candidates,
    exact-Hamming verification — (a_id, b_id, hamming), hamming <=
    PHASH_MAX_HAMMING. Scale shape: only (doc_id, 4 shorts) ever
    shuffles; candidates broadcast into a single-scan gather of the
    hash table (the nd_editdist_dedup convention), pixels never leave
    the stage that decodes them; the hash table is the shared persisted
    index above. Gate/verify shape: _phash_pairs_verify."""
    return _phash_pairs_verify(
        spark, sf_dir, phash_index(spark, sf_dir),
        max_hamming=PHASH_MAX_HAMMING, cand_kind="phash_cand")


def _phash_h_cte() -> str:
    """WITH-fragment ending in h(doc_id, b0..b3) — the image dHash table
    in DuckDB, shared by the batch oracle and the streaming-screen
    oracle (one statement of the hash, two graded consumers)."""
    bands = _phash_band_exprs(_phash_pixel_sql)
    band_cols = ", ".join(f"{e} AS b{i}" for i, e in enumerate(bands))
    return f"h AS (SELECT doc_id, {band_cols} FROM documents)"


def _phash_pairs_oracle(h_cte: str, n_bands: int, cap: int,
                        max_hamming: int) -> str:
    """The banded near-dup PAIR pipeline in DuckDB, generic over the
    modality: explode h's bands, cap hot buckets, bucket-join
    candidates, exact-Hamming verify. `h_cte` supplies the modality's
    hash table (must end in h(doc_id, b0..bN))."""
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS bi, b{i} AS v FROM h"
        for i in range(n_bands))
    ham = " + ".join(
        f"CAST(bit_count(xor(ha.b{i}, hb.b{i})) AS BIGINT)"
        for i in range(n_bands))
    return f"""
WITH {h_cte},
ex AS ({unions}),
f AS (SELECT doc_id, bi, v FROM
      (SELECT doc_id, bi, v, COUNT(*) OVER (PARTITION BY bi, v) AS n
       FROM ex) t WHERE n <= {cap}),
pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM f a JOIN f b ON a.bi = b.bi AND a.v = b.v
          WHERE a.doc_id < b.doc_id)
SELECT p.a_id, p.b_id, CAST({ham} AS BIGINT) AS hamming
FROM pairs p JOIN h ha ON ha.doc_id = p.a_id
             JOIN h hb ON hb.doc_id = p.b_id
WHERE {ham} <= {max_hamming}
ORDER BY p.a_id, p.b_id
"""


def _image_phash_oracle() -> str:
    return _phash_pairs_oracle(_phash_h_cte(), 4, BUCKET_CAP,
                               PHASH_MAX_HAMMING)


# --- audio near-dup: envelope dHash + Hamming banding --------------------------
# The phash recipe on the AUDIO plane (round-11 verdict #7): a perceptual
# hash over the windowed ENERGY ENVELOPE nd_multimodal_audio's DSP
# computes — gradient signs of consecutive window energies, banded for
# bucket-and-expand candidate generation, exact integer Hamming verify.
# Real-audio rationale: re-encodes/gain changes preserve time alignment,
# so envelope gradient signs survive them (the audio analog of dHash's
# resize robustness). The fixture has no audio bytes and text-as-PCM
# does NOT preserve near-dup structure under byte-shifting edits
# (measured: near-dup texts' envelope hamming 7-21/32 = unrelated), so
# clips are synthesized from doc_id with a CONTROLLED family structure —
# the image-phash convention: base clip = doc_id div APHASH_FAMILY, one
# md5-derived amplitude per 32-sample window, samples = an 8-bit ramp
# tone ((amp*j) % 256 - 128); variants perturb ~2 windows' amplitude
# (+13) — the re-encode gain noise a real pipeline sees. A real decoder
# plugs in by replacing the amplitude synthesis with decoded PCM; the
# envelope -> bits -> bands -> verify chain is unchanged. Constants
# tuned on the family structure: near pairs measure hamming <= 9, cross
# pairs >= 18, band recall 0.97 (prototype sweep, round 12).
APHASH_FAMILY = 7
APHASH_NWIN = 65     # 65 windows -> 64 gradient bits -> 4 x 16-bit bands
APHASH_WIN = 32      # samples per window
APHASH_PERT_MOD = 29
APHASH_PERT_BUMP = 13
APHASH_MAX_HAMMING = 10


def _aphash_amp_sql(w: int) -> str:
    """Window w's synthesized amplitude (DuckDB form)."""
    base = (f"CAST('0x' || substring(md5(CAST(doc_id // {APHASH_FAMILY} "
            f"AS VARCHAR) || ':{w}'), 1, 15) AS BIGINT) % 97 + 16")
    pert = (f"(CASE WHEN doc_id % {APHASH_FAMILY} > 0 AND "
            f"({w} * {APHASH_FAMILY} + doc_id % {APHASH_FAMILY}) "
            f"% {APHASH_PERT_MOD} = 0 THEN {APHASH_PERT_BUMP} "
            f"ELSE 0 END)")
    return f"({base} + {pert})"


def _aphash_amp_spark(w: int) -> str:
    base = (f"CAST(conv(substring(md5(CAST(doc_id div {APHASH_FAMILY} "
            f"AS STRING) || ':{w}'), 1, 15), 16, 10) AS BIGINT) % 97 + 16")
    pert = (f"(CASE WHEN doc_id % {APHASH_FAMILY} > 0 AND "
            f"({w} * {APHASH_FAMILY} + doc_id % {APHASH_FAMILY}) "
            f"% {APHASH_PERT_MOD} = 0 THEN {APHASH_PERT_BUMP} "
            f"ELSE 0 END)")
    return f"({base} + {pert})"


def audio_phash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b3): the packed envelope dHash per clip — pure
    per-row codegen: amplitudes projected as ONE array column, window
    energies as a transform/aggregate HOF over the real DSP expression
    (Σ sample² over the 32-sample ramp — integer-exact), gradient bits
    packed into four 16-bit bands. 8 bytes/clip is all that ever
    shuffles, regardless of clip length. The energy array is projected
    before the band projections reference it (the round-4 inlining
    rule: each energy feeds TWO gradient bits)."""
    amps = F.array(*[F.expr(_aphash_amp_spark(w))
                     for w in range(APHASH_NWIN)])
    wide = docs.select("doc_id", amps.alias("amp"))
    energy = F.expr(
        f"transform(amp, a -> aggregate(sequence(1, {APHASH_WIN}), "
        "CAST(0 AS BIGINT), (acc, j) -> acc + "
        "CAST(((a * j) % 256 - 128) * ((a * j) % 256 - 128) AS BIGINT)))")
    we = wide.select("doc_id", energy.alias("e"))
    bands = []
    for b in range(4):
        terms = " + ".join(
            f"(CASE WHEN e[{16 * b + i}] > e[{16 * b + i + 1}] "
            f"THEN {1 << i} ELSE 0 END)" for i in range(16))
        bands.append(f"CAST({terms} AS BIGINT)")
    return we.select(
        "doc_id", *[F.expr(e).alias(f"b{i}") for i, e in enumerate(bands)])


def audio_phash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope-hash table as a shared PERSISTED index (the
    phash_index lifecycle): synthesize+hash once per source content,
    publish, every consumer scans the artifact."""
    # spread_compute: see phash_index — 144 md5 envelope cells/doc of
    # projection CPU over a one-row-group scan; single-task without the
    # exchange.
    return rowwise_index(
        spark, sf_dir, "aphash",
        lambda docs: audio_phash_frame(spread_compute(
            spark, docs.select("doc_id"), "doc_id")))


def nd_audio_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs: envelope dHash, band-bucketed candidates,
    exact-Hamming verification — (a_id, b_id, hamming), hamming <=
    APHASH_MAX_HAMMING. Same scale shape as nd_image_phash (PCM never
    leaves the stage that decodes it): _phash_pairs_verify."""
    return _phash_pairs_verify(
        spark, sf_dir, audio_phash_index(spark, sf_dir),
        max_hamming=APHASH_MAX_HAMMING, cand_kind="aphash_cand")


def _aphash_h_cte() -> str:
    """WITH-fragment ending in h(doc_id, b0..b3) — the audio envelope
    dHash in DuckDB: synthesized amplitudes, Σ-sample² window energies
    over an unnested ramp, gradient bits packed into four bands. Shared
    by the batch oracle and the streaming-screen oracle."""
    # the w-parameterized form of _aphash_amp_sql (w is a column here)
    amp = (f"CAST('0x' || substring(md5(CAST(doc_id // {APHASH_FAMILY} "
           "AS VARCHAR) || ':' || CAST(w AS VARCHAR)), 1, 15) AS BIGINT) "
           "% 97 + 16 + "
           f"(CASE WHEN doc_id % {APHASH_FAMILY} > 0 AND "
           f"(w * {APHASH_FAMILY} + doc_id % {APHASH_FAMILY}) "
           f"% {APHASH_PERT_MOD} = 0 THEN {APHASH_PERT_BUMP} ELSE 0 END)")
    packs = ", ".join(
        f"CAST(SUM(CASE WHEN i >= {16 * b} AND i < {16 * (b + 1)} "
        f"THEN bit * (1 << (i - {16 * b})) ELSE 0 END) AS BIGINT) AS b{b}"
        for b in range(4))
    return f"""amps AS (
  SELECT doc_id, w, {amp} AS a
  FROM documents CROSS JOIN
       (SELECT unnest(range({APHASH_NWIN})) AS w) ws),
eng AS (
  SELECT doc_id, w,
         SUM(((a * j) % 256 - 128) * ((a * j) % 256 - 128)) AS e
  FROM amps CROSS JOIN
       (SELECT unnest(range(1, {APHASH_WIN + 1})) AS j) js
  GROUP BY doc_id, w),
abits AS (
  SELECT x.doc_id, x.w AS i,
         CASE WHEN x.e > y.e THEN 1 ELSE 0 END AS bit
  FROM eng x JOIN eng y ON x.doc_id = y.doc_id AND y.w = x.w + 1),
h AS (SELECT doc_id, {packs} FROM abits GROUP BY doc_id)"""


def _audio_phash_oracle() -> str:
    return _phash_pairs_oracle(_aphash_h_cte(), 4, BUCKET_CAP,
                               APHASH_MAX_HAMMING)


# --- video near-dup: frame-sampled dHash + time-aligned Hamming banding ------
# The last missing modality of the near-dup plane (image r11, audio r12):
# a video is screened as VPHASH_NFRAMES sampled frames (the
# nd_multimodal_frames 1-to-N shape), each frame dHashed exactly like a
# still image, and the per-frame band integers concatenated into ONE
# 16-band signature whose band index encodes the frame position — so the
# band join only candidates videos whose hashes agree at the SAME
# timestamp (the time-aligned assumption that holds for re-encodes /
# resolution ladders / watermark overlays, the dominant video-dup classes;
# a trim/shift detector would slide the frame axis, out of scope as in
# production first-pass screens). Verification is the exact total Hamming
# over all 256 bits. Reference capability citation: the video workloads
# examples/video_processing/ (the reference transcodes videos in
# containers; a curation pipeline needs the near-dup screen over them).
#
# No video bytes in the fixture, so frames synthesize from doc_id with
# the controlled family structure (the phash convention): base video =
# doc_id div VPHASH_FAMILY, pixel g of frame f = md5(base:f:g) in
# [0,256); variants perturb ~8 of the 288 cells (+40) spread across
# frames — re-encode noise. A real decoder plugs in by replacing the
# pixel synthesis with frame-sampled decoder output (the
# nd_multimodal_frames mapInPandas plumbing); everything downstream —
# bits, bands, buckets, verify — is unchanged. Fixture separation
# (sf0.001 sweep, round 12): same-family pairs measure hamming 0-11/256,
# cross-family >= 97; every same-family pair shares >= 1 of the 16
# buckets (recall 1.0 before the cap), only 62/123k cross pairs
# false-candidate. VPHASH_MAX_HAMMING = 24 sits in the dead center of
# that margin.
VPHASH_FAMILY = 7
VPHASH_NFRAMES = 4
VPHASH_NBANDS = VPHASH_NFRAMES * 4
VPHASH_CELLS = VPHASH_NFRAMES * _PHASH_ROWS * _PHASH_GRID_W  # 288
VPHASH_PERT_MOD = 37
VPHASH_PERT_BUMP = 40
VPHASH_MAX_HAMMING = 24


def _vphash_cell_layout(c: int) -> tuple[int, int] | None:
    """(band, pos) of the gradient bit that STARTS at flat cell c, or
    None when c is a row-final cell (no right neighbor). One function
    defines the bit layout; the Spark emitter consumes it directly and
    the oracle's arithmetic form is asserted equal to it cell-by-cell
    in tests/test_operators.py."""
    f, g = divmod(c, _PHASH_ROWS * _PHASH_GRID_W)
    r, col = divmod(g, _PHASH_GRID_W)
    if col == _PHASH_GRID_W - 1:
        return None
    j = r * (_PHASH_GRID_W - 1) + col  # within-frame bit index, 0..63
    return f * 4 + j // 16, j % 16


def video_phash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b15): the packed per-frame dHash signature per video
    — pure per-row codegen. The pixel stack, the gradient-bit vector and
    the band packs are HOF expressions over ``sequence`` (one lambda
    each), NOT 288 inlined literal trees: the literal form blew janino's
    method limit and silently fell back to interpreted evaluation (the
    round-12 measurement: 46 s -> ~1 s at sf0.001). Each stage is
    projected before the next references it (the round-4 inlining rule).
    32 bytes/video is all that ever shuffles, regardless of resolution
    or duration."""
    px = F.expr(
        f"transform(sequence(0, {VPHASH_CELLS - 1}), c -> "
        f"CAST(conv(substring(md5(CAST(doc_id div {VPHASH_FAMILY} AS "
        "STRING) || ':' || CAST(c div 72 AS STRING) || ':' || "
        "CAST(c % 72 AS STRING)), 1, 15), 16, 10) AS BIGINT) % 256 "
        f"+ (CASE WHEN doc_id % {VPHASH_FAMILY} > 0 AND "
        f"(c * {VPHASH_FAMILY} + doc_id % {VPHASH_FAMILY}) "
        f"% {VPHASH_PERT_MOD} = 0 THEN {VPHASH_PERT_BUMP} ELSE 0 END))")
    wide = docs.select("doc_id", px.alias("px"))
    # bit j (0..255) -> cell c = f*72 + r*9 + col, the arithmetic form
    # of _vphash_cell_layout (pinned equal in tests/test_operators.py)
    cell = ("((j div 64) * 72 + ((j % 64) div 8) * 9 + (j % 64) % 8)"
            .replace("j", "jj"))
    bits = F.expr(
        f"transform(sequence(0, {VPHASH_NFRAMES * 64 - 1}), jj -> "
        f"CASE WHEN px[{cell}] > px[{cell} + 1] THEN 1 ELSE 0 END)")
    wb = wide.select("doc_id", bits.alias("bits"))
    packs = [F.expr(
        f"aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc + CAST(bits[{16 * k} + i] AS BIGINT) * "
        "shiftleft(CAST(1 AS BIGINT), i))").alias(f"b{k}")
        for k in range(VPHASH_NBANDS)]
    return wb.select("doc_id", *packs)


def video_phash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video signature table as a shared PERSISTED index (the
    phash_index lifecycle): decode+hash once per source content,
    publish, every consumer scans the artifact."""
    # spread_compute: see phash_index — 288 md5 cells/doc, the heaviest
    # hash build in the store; without the exchange the one-row-group
    # scan pins the cold path to a single task at any core count.
    return rowwise_index(
        spark, sf_dir, "vphash",
        lambda docs: video_phash_frame(spread_compute(
            spark, docs.select("doc_id"), "doc_id")))


def nd_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs: frame-sampled dHash signatures, time-aligned
    band-bucketed candidates, exact-Hamming verification — (a_id, b_id,
    hamming), hamming <= VPHASH_MAX_HAMMING over 256 bits. Same scale
    shape as the image/audio screens (decoded frames never leave the
    stage that hashes them): _phash_pairs_verify."""
    return _phash_pairs_verify(
        spark, sf_dir, video_phash_index(spark, sf_dir),
        max_hamming=VPHASH_MAX_HAMMING, cand_kind="vphash_cand")


def _vphash_h_cte() -> str:
    """WITH-fragment ending in h(doc_id, b0..b15) — the video signature
    in DuckDB. The pixel stack unnests over the 288 flat cells (one
    column-parameterized pixel expression, not 576 inlined ones) and
    the (band, pos) layout is the arithmetic form of
    _vphash_cell_layout — the layout-equality test pins the two forms
    to each other. Shared by the batch and streaming-screen oracles.
    bit_count casts per-term downstream: DuckDB's bit_count returns a
    1-byte integer and a 16-term sum overflows it."""
    amp = (f"CAST('0x' || substring(md5(CAST(doc_id // {VPHASH_FAMILY} "
           "AS VARCHAR) || ':' || CAST(c // 72 AS VARCHAR) || ':' || "
           "CAST(c % 72 AS VARCHAR)), 1, 15) AS BIGINT) % 256 + "
           f"(CASE WHEN doc_id % {VPHASH_FAMILY} > 0 AND "
           f"(c * {VPHASH_FAMILY} + doc_id % {VPHASH_FAMILY}) "
           f"% {VPHASH_PERT_MOD} = 0 THEN {VPHASH_PERT_BUMP} ELSE 0 END)")
    packs = ", ".join(
        f"CAST(SUM(CASE WHEN band = {k} THEN bit * (1 << pos) ELSE 0 END)"
        f" AS BIGINT) AS b{k}" for k in range(VPHASH_NBANDS))
    return f"""cells AS (SELECT unnest(range({VPHASH_CELLS})) AS c),
px AS (SELECT doc_id, c, {amp} AS p FROM documents CROSS JOIN cells),
vbits AS (
  SELECT x.doc_id,
         ((x.c // 72) * 4 +
          (((x.c % 72) // 9) * 8 + (x.c % 72) % 9) // 16) AS band,
         ((((x.c % 72) // 9) * 8 + (x.c % 72) % 9) % 16) AS pos,
         CASE WHEN x.p > y.p THEN 1 ELSE 0 END AS bit
  FROM px x JOIN px y ON x.doc_id = y.doc_id AND y.c = x.c + 1
  WHERE (x.c % 72) % 9 != 8),
h AS (SELECT doc_id, {packs} FROM vbits GROUP BY doc_id)"""


def _video_phash_oracle() -> str:
    return _phash_pairs_oracle(_vphash_h_cte(), VPHASH_NBANDS,
                               BUCKET_CAP, VPHASH_MAX_HAMMING)


_HEXPAIR = ("(strpos('0123456789abcdef', substring(md5(text), {a}, 1)) - 1) * 16"
            " + (strpos('0123456789abcdef', substring(md5(text), {b}, 1)) - 1)")

QUERIES = {
    "nd_multimodal_audio": (nd_multimodal_audio, _AUDIO_ORACLE),
    "nd_image_phash": (nd_image_phash, _image_phash_oracle()),
    "nd_image_phash_real": (nd_image_phash_real,
                            _image_phash_real_oracle()),
    "nd_audio_phash": (nd_audio_phash, _audio_phash_oracle()),
    "nd_video_phash": (nd_video_phash, _video_phash_oracle()),
    "nd_multimodal_features": (
        nd_multimodal_features,
        "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_bytes, "
        f"CAST(({_HEXPAIR.format(a=1, b=2)}) % 512 + 16 AS INTEGER) AS width, "
        f"CAST(({_HEXPAIR.format(a=3, b=4)}) % 512 + 16 AS INTEGER) AS height, "
        "md5(text) AS phash FROM documents ORDER BY doc_id",
    ),
    "nd_multimodal_resize": (
        nd_multimodal_resize,
        "WITH d AS (SELECT doc_id, "
        f"CAST(({_HEXPAIR.format(a=1, b=2)}) % 512 + 16 AS INTEGER) AS width, "
        f"CAST(({_HEXPAIR.format(a=3, b=4)}) % 512 + 16 AS INTEGER) AS height, "
        "md5(text) AS phash FROM documents) "
        "SELECT doc_id, width, height, "
        f"CAST({RESIZE_TARGET_W} AS INTEGER) AS new_width, "
        f"CAST(greatest(1, (height * {RESIZE_TARGET_W}) // width) AS INTEGER)"
        " AS new_height, "
        f"md5(phash || ':' || '{RESIZE_TARGET_W}' || 'x' || "
        f"CAST(greatest(1, (height * {RESIZE_TARGET_W}) // width) AS VARCHAR))"
        " AS resized_hash "
        "FROM d ORDER BY doc_id",
    ),
    "nd_multimodal_frames": (
        nd_multimodal_frames,
        "SELECT doc_id, CAST(f.i AS INTEGER) AS frame_idx, "
        "md5(md5(text) || ':' || f.i) AS frame_hash, "
        "CAST(length(text) AS INTEGER) AS n_bytes "
        f"FROM documents CROSS JOIN (SELECT unnest(range({N_FRAMES})) AS i) f "
        "ORDER BY doc_id, frame_idx",
    ),
}
