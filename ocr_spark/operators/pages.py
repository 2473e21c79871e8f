"""Page-level operators: explode, rotation, base64 transport, result stats.

The reference explodes a PDF into 1-based pages and processes each
independently (pdf_to_images, scripts/ExtractX_OCR.py:240-288); failed
pages are skipped, not fatal (:282-284); payloads travel base64-encoded
(:318-320); results are counted as rows×cols (:448,572). Spark mappings
per SURVEY.md §2.3/§2.4 — all built-in except the rotation round-trip,
which exercises the NumPy rot90 kernel (PIL-equivalent clockwise
semantics, :271-272, :294-295).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.worker import python_stage

#: Multi-page payload separator (ASCII record separator).
PAGE_SEP = "\x1e"


def explode_pages(
    df: DataFrame, payload_col: str = "text", sep: str = PAGE_SEP
) -> DataFrame:
    """One row per page, 1-based page_idx preserving in-document order —
    the reference's pdf→pages explode as a pure built-in posexplode (no
    Python). Empty pages (render failures in the reference, :282-284) are
    dropped, matching skip-and-continue."""
    return (
        df.select(
            "doc_id",
            F.posexplode(F.split(F.col(payload_col), sep)).alias("pos", "page"),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("int").alias("page_idx"),
            "page",
        )
        .filter(F.length("page") > 0)
    )


def b64_transport(df: DataFrame, payload_col: str = "text") -> DataFrame:
    """Base64 payload encoding for transport (reference :318-320) — the
    built-in JVM codec; with Arrow batches the engine normally skips the
    transport encoding entirely (binary stays binary). Spark's base64
    MIME-chunks at 76 chars; the reference's Python b64encode does not,
    so the chunk breaks are stripped for parity."""
    return df.select(
        "doc_id",
        F.regexp_replace(
            F.base64(F.col(payload_col).cast("binary")), "\r\n", ""
        ).alias("payload_b64"),
    )


def count_rows_cols(extracted: DataFrame) -> DataFrame:
    """Result stats per conversation: total extracted rows and max column
    count (reference df.shape display, :448,572,659-660) — a partial-
    aggregating groupBy, no data movement beyond the tiny stats."""
    return extracted.groupBy("conv_id").agg(
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.max("n_cols").cast("int").alias("max_cols"),
        F.count("*").cast("long").alias("n_turns"),
    )


_ROT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rot", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("roundtrip_ok", T.BooleanType()),
    ]
)


@python_stage
def _rot_roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ocr_spark.kernels.grid import (
        decode_grid_payload,
        encode_grid_payload,
        render_grid,
        rot90_payload,
    )

    for pdf in it:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            words = text.split(" ")
            cells = [["a", "b"], [words[0], words[-1]]]
            img = render_grid(cells)
            rot = int(doc_id) % 4 * 90
            payload = encode_grid_payload(img, rot=rot)
            stored, r = decode_grid_payload(payload)
            restored = rot90_payload(stored, r)
            out.append(
                (
                    int(doc_id),
                    rot,
                    int(restored.shape[0]),
                    int(restored.shape[1]),
                    bool(np.array_equal(restored, img)),
                )
            )
        yield pd.DataFrame(out, columns=["doc_id", "rot", "h", "w", "roundtrip_ok"])


def rotate_roundtrip(df: DataFrame) -> DataFrame:
    """rotate_image op coverage: render → store rotated by doc_id%4*90 CCW
    → decode → clockwise rot90 restore must reproduce the original mask
    (reference img.rotate(-r, expand=True) semantics incl. the rot==0
    short-circuit). Vectorized NumPy inside mapInPandas."""
    return df.select("doc_id", "text").mapInPandas(_rot_roundtrip, _ROT_SCHEMA)


PDF_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("page_text", T.StringType()),
    ]
)


def pdf_pages_from_bytes(
    df: DataFrame,
    payload_col: str = "payload",
    passthrough: "tuple[str, ...]" = (),
) -> DataFrame:
    """REAL PDF container explode: (doc_id, payload binary) → one row per
    page with its extracted text (kernels/pdf.py: xref parse, page-tree
    walk, FlateDecode, Tj/TJ runs) — the reference's fitz front door
    (scripts/ExtractX_OCR.py:240-288) minus rasterization. Arrow-batched
    mapInPandas; an unparseable PDF contributes zero rows (the
    reference's skip-and-continue, :282-284). ``passthrough`` columns are
    replicated onto every page row inside the same stage — carrying e.g.
    the source path through keeps the plan a straight-line map chain
    instead of a shuffle join back to the source."""
    from pyspark.sql import types as T

    from ocr_spark.kernels.pdf import extract_pages

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[int] = []
            idxs: list[int] = []
            texts: list[str] = []
            extra: dict[str, list] = {c: [] for c in passthrough}
            for row in pdf.itertuples(index=False):
                try:
                    pages = extract_pages(bytes(getattr(row, payload_col)))
                except Exception:
                    continue  # skip-and-continue
                for i, text in enumerate(pages):
                    ids.append(int(row.doc_id))
                    idxs.append(i + 1)  # 1-based, reference convention
                    texts.append(text)
                    for c in passthrough:
                        extra[c].append(getattr(row, c))
            out = {
                "doc_id": pd.Series(ids, dtype="int64"),
                "page_idx": pd.Series(idxs, dtype="int32"),
                "page_text": pd.Series(texts, dtype="object"),
            }
            out.update({c: pd.Series(extra[c], dtype="object") for c in passthrough})
            yield pd.DataFrame(out)

    schema = T.StructType(
        list(PDF_PAGES_SCHEMA.fields)
        + [df.schema[c] for c in passthrough]
    )
    cols = ["doc_id", F.col(payload_col), *[F.col(c) for c in passthrough]]
    return df.select(*cols).mapInPandas(fn, schema)


PDF_IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("page_idx", T.IntegerType()),
        T.StructField("img_name", T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def pdf_images_from_bytes(
    df: DataFrame,
    payload_col: str = "payload",
    passthrough: "tuple[str, ...]" = (),
) -> DataFrame:
    """Embedded-image extraction from PDF bytes: one row per decodable
    /Image XObject with dims/channels/mean — the reference's scanned-PDF
    reality (its fixtures carry their content as DCTDecode page scans,
    scripts/ExtractX_OCR.py:263-265 extracts from rendered pixels).
    DCTDecode → kernels/jpeg.py, Flate bitmaps → raw samples
    (kernels/pdf.PdfDoc.page_images). Arrow-batched mapInPandas, one
    fused Python stage, parallel axis = documents; undecodable files or
    images contribute zero rows (skip-and-continue)."""
    from ocr_spark.kernels.pdf import extract_images

    @python_stage
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: list[tuple] = []
            extra: dict[str, list] = {c: [] for c in passthrough}
            for row in pdf.itertuples(index=False):
                try:
                    imgs = extract_images(bytes(getattr(row, payload_col)))
                except Exception:
                    continue
                for page_idx, name, arr in imgs:
                    rows.append(
                        (
                            int(row.doc_id),
                            int(page_idx),
                            name,
                            int(arr.shape[0]),
                            int(arr.shape[1]),
                            int(arr.shape[2]) if arr.ndim == 3 else 1,
                            float(arr.mean()) if arr.size else 0.0,
                        )
                    )
                    for c in passthrough:
                        extra[c].append(getattr(row, c))
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "page_idx", "img_name",
                    "height", "width", "channels", "mean_px",
                ],
            )
            out["doc_id"] = out["doc_id"].astype("int64")
            out["page_idx"] = out["page_idx"].astype("int32")
            for c in ("height", "width", "channels"):
                out[c] = out[c].astype("int32")
            out["mean_px"] = out["mean_px"].astype("float64")
            for c in passthrough:
                out[c] = pd.Series(extra[c], dtype="object")
            yield out

    schema = T.StructType(
        list(PDF_IMAGES_SCHEMA.fields) + [df.schema[c] for c in passthrough]
    )
    cols = ["doc_id", F.col(payload_col), *[F.col(c) for c in passthrough]]
    return df.select(*cols).mapInPandas(fn, schema)
