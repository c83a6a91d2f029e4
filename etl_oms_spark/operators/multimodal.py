"""Multimodal columns: binary media payloads with typed metadata.

Design (the part that must be right at 100 TB):

- media are **opaque binary columns** + a typed metadata struct — never
  driver-side bytes, never Python round trips per row.
- decode and feature-extract run as **Arrow-batched ``mapInPandas``**:
  the schema, batch shape, partitioning, and UDF signatures here are real
  and tested. ``decode_media_metadata`` parses the FAKE header
  (``decoder="fake"``, deterministic, used by tests) or decodes real image
  bytes with Pillow (``decoder="pil"``, gated on the import);
  ``extract_features`` computes a deterministic byte histogram in place of
  a model.
- batch size is controlled by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — large payloads want a small cap (e.g. 64) so a batch of 100 MB videos
  doesn't OOM an executor; set it before calling these.

Fake payload format (for tests and plumbing verification):
``b"FAKE" + width:4 bytes BE + height:4 BE + channels:1 + raw``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("format", T.StringType()),
    ]
)


def make_fake_payload(width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic fake media payload (see module docstring)."""
    body = bytes((width * 31 + height * 7 + i) % 256 for i in range(min(width * height, 256)))
    return (
        b"FAKE"
        + width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([channels])
        + body
    )


def decode_media_metadata(
    df: DataFrame,
    payload_col: str = "payload",
    decoder: str = "fake",
) -> DataFrame:
    """Attach a typed ``meta`` struct decoded from the binary payload.

    ``mapInPandas`` — Arrow batches of (id cols + payload) in, same rows +
    ``meta`` struct out; executors never ship bytes to the driver. The
    ``fake`` decoder parses the FAKE header; ``decoder="pil"`` decodes
    real image bytes via Pillow behind the SAME signature/schema (gated on
    the import — environments without Pillow get NotImplementedError, and
    the pil smoke test skips itself).
    """
    if decoder == "pil":
        try:
            import PIL  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "decoder 'pil' requires Pillow on driver and workers; "
                "use decoder='fake' for codec-free plumbing tests"
            ) from exc
    elif decoder != "fake":
        raise NotImplementedError(
            f"decoder {decoder!r}: supported decoders are 'fake' (header "
            "parse, codec-free) and 'pil' (real image decode, needs Pillow)"
        )
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField("meta", MEDIA_META_SCHEMA)])

    # the header parser is nested: the closure must be SELF-CONTAINED so
    # cloudpickle ships it by value — a module-global reference would
    # require this package to be importable on every Python worker, which
    # fails when the contract is loaded by file path from a foreign cwd
    def parse_fake(payload: bytes) -> tuple[int, int, int]:
        if payload is None or len(payload) < 13 or payload[:4] != b"FAKE":
            raise ValueError("not a FAKE payload")
        return (
            int.from_bytes(payload[4:8], "big"),
            int.from_bytes(payload[8:12], "big"),
            payload[12],
        )

    def parse_pil(payload: bytes) -> dict:
        import io

        from PIL import Image  # worker-side import, gated at plan time

        img = Image.open(io.BytesIO(payload))
        return {
            "media_type": "image",
            "width": img.width,
            "height": img.height,
            "channels": len(img.getbands()),
            "n_bytes": len(payload),
            "format": (img.format or "unknown").lower(),
        }

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for payload in pdf[payload_col]:
                try:
                    if decoder == "pil":
                        metas.append(parse_pil(bytes(payload)))
                    else:
                        w, h, c = parse_fake(bytes(payload))
                        metas.append(
                            {
                                "media_type": "image",
                                "width": w,
                                "height": h,
                                "channels": c,
                                "n_bytes": len(payload),
                                "format": "fake",
                            }
                        )
                except Exception:  # noqa: BLE001 - undecodable payload row
                    metas.append(
                        {
                            "media_type": "unknown",
                            "width": None,
                            "height": None,
                            "channels": None,
                            "n_bytes": len(payload) if payload is not None else None,
                            "format": None,
                        }
                    )
            pdf = pdf.copy()
            pdf["meta"] = metas
            yield pdf

    return df.mapInPandas(decode, schema=out_schema)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    dim: int = 16,
) -> DataFrame:
    """Media → feature vector (array<float>), Arrow-batched.

    Deterministic byte-histogram features so downstream ANN / dedup
    plumbing can run end-to-end. A real model swaps in behind the same
    ``mapInPandas`` contract (load model once per worker in the generator
    body, batch through it).
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("features", T.ArrayType(T.FloatType()))]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a real extractor would lazily load its model HERE, once per worker
        for pdf in batches:
            feats = []
            for payload in pdf[payload_col]:
                b = bytes(payload) if payload is not None else b""
                hist = [0.0] * dim
                for byte in b:
                    hist[byte % dim] += 1.0
                total = sum(hist) or 1.0
                feats.append([v / total for v in hist])
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf

    return df.mapInPandas(featurize, schema=out_schema)


def with_media_column(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Testdata helper: synthesize a binary media column from text so the
    multimodal plumbing can run against the documents table."""
    return df.withColumn(
        "payload",
        F.concat(
            F.lit(b"FAKE"),
            # width = n_chars % 256 packed big-endian in 4 bytes
            F.unhex(F.lpad(F.hex(F.length(text_col) % 256), 8, "0")),
            F.unhex(F.lpad(F.hex(F.lit(32)), 8, "0")),
            F.unhex(F.lit("03")),
            F.encode(F.col(text_col), "UTF-8"),
        ),
    )
