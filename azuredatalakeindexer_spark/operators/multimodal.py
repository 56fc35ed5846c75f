"""Multimodal columns: opaque binary payloads with typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns plus a
metadata struct; decode / feature-extraction / resize / frame-sampling run as
Arrow-batched ``mapInPandas`` stages (the ONLY Python-side operators in the
engine — everything else is Catalyst expressions).  The decode libraries
(PIL/ffmpeg/etc.) are not in this container, so the decode body is STUBBED
behind ``fake=True`` with a deterministic byte-level feature extractor; the
Spark-side plumbing — schema, Arrow batch shape, partitioning — is real and
tested (tests/test_dedup.py, tests/test_lake_and_indexer.py).

At 100 TB the pattern matters more than the stub: binary payloads are read
with the ``binaryFile`` source (no driver involvement), batches stream
through Arrow with ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounding
executor memory, and metadata-only stages never touch the payload column
(column pruning drops it at the scan).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: payload + typed metadata (SURVEY north-star: "binary columns with typed
#: metadata")
MULTIMODAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("byte_len", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("byte_len", LongType(), True),
        StructField("magic_hex", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def attach_binary_payload(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a multimodal table from the documents fixture: the UTF-8 bytes of
    the text stand in for an opaque media payload (deterministic fake)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.to_binary(F.col(text_col), F.lit("utf-8")).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(F.col(text_col)).cast("long").alias("byte_len"),
    )


def codecs_available() -> dict:
    """Runtime probe for the OPTIONAL media codec libraries (VERDICT r10
    next-#8): ``image`` → Pillow, ``video`` → PyAV.  Probed per call so an
    executor image with codecs baked in lights the real branch up without
    code changes; the deterministic fake path stays the oracle-gated
    default either way."""
    import importlib

    out = {}
    for mod, key in (("PIL.Image", "image"), ("av", "video")):
        try:
            importlib.import_module(mod)
            out[key] = True
        except Exception:
            out[key] = False
    return out


def extract_features(mm: DataFrame, fake: bool = True) -> DataFrame:
    """Decode / feature-extract via Arrow-batched ``mapInPandas``.

    ``fake=True`` (the oracle-gated default) derives deterministic features
    from raw bytes: magic prefix, fake width/height from byte content.
    ``fake=False`` runs the REAL decoder when Pillow is importable on the
    executors (``codecs_available()['image']``) — width/height from the
    decoded image, mime from the detected format — and raises
    ``NotImplementedError`` only when the codec is truly absent (this
    container ships none, so the env-gated test exercising the real branch
    skips here and runs wherever Pillow exists).
    """

    def _decode(batches: Iterator) -> Iterator:
        import pandas as pd

        real_image = None
        for pdf in batches:
            if not fake:
                if real_image is None:
                    try:
                        from PIL import Image as real_image  # noqa: N813
                    except Exception:
                        raise NotImplementedError(
                            "real media decode requires Pillow, not present "
                            "on this executor; use fake=True (deterministic "
                            "byte features)"
                        ) from None
                import io

                rows = {
                    "doc_id": [], "mime": [], "byte_len": [],
                    "magic_hex": [], "width": [], "height": [],
                }
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    rows["doc_id"].append(doc_id)
                    rows["byte_len"].append(
                        len(payload) if payload is not None else None
                    )
                    rows["magic_hex"].append(
                        payload[:4].hex() if payload is not None else None
                    )
                    try:
                        img = real_image.open(io.BytesIO(payload))
                        rows["mime"].append(
                            real_image.MIME.get(img.format, "application/octet-stream")
                        )
                        rows["width"].append(img.width)
                        rows["height"].append(img.height)
                    except Exception:
                        rows["mime"].append(None)
                        rows["width"].append(None)
                        rows["height"].append(None)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                        "mime": pd.Series(rows["mime"], dtype="object"),
                        "byte_len": pd.Series(rows["byte_len"], dtype="int64"),
                        "magic_hex": pd.Series(rows["magic_hex"], dtype="object"),
                        "width": pd.Series(rows["width"], dtype="Int32"),
                        "height": pd.Series(rows["height"], dtype="Int32"),
                    }
                )
                continue
            payloads = pdf["payload"]
            magic = payloads.map(lambda b: b[:4].hex() if b is not None else None)
            width = payloads.map(lambda b: (len(b) % 640) + 1 if b is not None else None)
            height = payloads.map(lambda b: ((len(b) * 7) % 480) + 1 if b is not None else None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "byte_len": pdf["byte_len"],
                    "magic_hex": magic,
                    "width": width.astype("int32"),
                    "height": height.astype("int32"),
                }
            )

    return mm.mapInPandas(_decode, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_hash", StringType(), True),
    ]
)


def sample_frames(mm: DataFrame, frame_bytes: int = 64, fake: bool = True) -> DataFrame:
    """Frame sampling: one input payload → N output frames (Arrow-batched
    ``mapInPandas`` returning MULTIPLE rows per input — the video/audio
    chunking shape).

    The fake sampler derives ``(byte_len % 5) + 1`` frames per payload, each
    fingerprinted by the md5 of its byte window — deterministic, so the
    whole stage is oracle-checkable while the plumbing (row explosion,
    batch shape, schema) is exactly what a real ffmpeg-backed sampler uses.
    """

    def _sample(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            if not fake:
                # real sampling is PyAV-gated the same way extract_features
                # is Pillow-gated: probe at task time, raise only when the
                # codec is truly absent (it is, in this container)
                try:
                    import av
                except Exception:
                    raise NotImplementedError(
                        "real frame sampling requires PyAV/ffmpeg, not "
                        "present on this executor; use fake=True"
                    ) from None
                import io

                out_ids, out_idx, out_hash = [], [], []
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                    if payload is None:
                        continue
                    try:
                        container = av.open(io.BytesIO(bytes(payload)))
                    except Exception:
                        # undecodable payload: no frames, same contract as
                        # the image decoder's null row
                        continue
                    try:
                        vstreams = [
                            s for s in container.streams if s.type == "video"
                        ]
                        if not vstreams:
                            continue
                        stream = vstreams[0]
                        # evenly-strided sample: decode in presentation
                        # order, keep every k-th frame so payload size (not
                        # duration) bounds output — ``frame_bytes`` doubles
                        # as the stride knob on the real path
                        stride = max(1, int(frame_bytes) // 16)
                        kept = 0
                        for i, frame in enumerate(
                            container.decode(stream)
                        ):
                            if i % stride:
                                continue
                            # fingerprint the decoded plane bytes — stable
                            # across containers carrying identical video
                            rgb = frame.to_ndarray(format="rgb24")
                            out_ids.append(doc_id)
                            out_idx.append(kept)
                            out_hash.append(
                                hashlib.md5(rgb.tobytes()).hexdigest()
                            )
                            kept += 1
                    finally:
                        container.close()
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(out_ids, dtype="int64"),
                        "frame_idx": pd.Series(out_idx, dtype="int32"),
                        "frame_hash": pd.Series(out_hash, dtype="object"),
                    }
                )
                continue
            out_ids, out_idx, out_hash = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                n = (len(payload) % 5) + 1
                for i in range(n):
                    window = payload[i * frame_bytes : (i + 1) * frame_bytes]
                    out_ids.append(doc_id)
                    out_idx.append(i)
                    out_hash.append(hashlib.md5(window).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="int64"),
                    "frame_idx": pd.Series(out_idx, dtype="int32"),
                    "frame_hash": pd.Series(out_hash, dtype="object"),
                }
            )

    return mm.mapInPandas(_sample, schema=FRAME_SCHEMA)


def metadata_only(mm: DataFrame) -> DataFrame:
    """Metadata projection that provably never reads payload bytes — the
    column-pruning fast path (check ``ReadSchema`` in the plan)."""
    return mm.select("doc_id", "mime", "byte_len")
