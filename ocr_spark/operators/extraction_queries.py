"""Extraction kernels exposed as relational queries over the `documents`
testdata table, built to be DuckDB-oracle-checkable end to end.

Each query deterministically WRAPS document text into the payload format a
transcript turn would carry (HTML page / model-reply JSON / GRIDv1 image),
runs the real extraction kernel, and unwraps — so the oracle SQL can state
the expected output directly from the source columns. The wrap is done
with built-in Spark functions (JVM-side); only the extraction kernel
itself crosses into Python, Arrow-batched.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ocr_spark.kernels.grid import encode_grid_payload, extract_grid_table, render_grid
from ocr_spark.kernels.htmlstrip import strip_html
from ocr_spark.kernels.salvage import salvage_json
from ocr_spark.worker import python_stage

# -- HTML ------------------------------------------------------------------

_HTML_PRE = (
    '<html><head><title>t</title></head><body>'
    '<nav><a href="/">home</a><a href="/about">about</a><a href="/x">more</a></nav>'
    '<div class="main"><p>'
)
_HTML_POST = (
    "</p></div>"
    '<footer><a href="#">terms</a> <a href="#">privacy</a></footer>'
    "</body></html>"
)


@pandas_udf(T.StringType())
@python_stage
def _strip_html_udf(s: pd.Series) -> pd.Series:
    return s.map(strip_html)


def extract_html_query(df: DataFrame) -> DataFrame:
    """documents → wrap each text in a boilerplated page → strip → the
    stripped main text must equal the original text."""
    wrapped = df.select(
        "doc_id",
        F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)).alias("page"),
    )
    return wrapped.select(
        "doc_id", _strip_html_udf(F.col("page")).alias("main_text")
    )


# -- JSON salvage ----------------------------------------------------------


@pandas_udf(T.ArrayType(T.StringType()))
@python_stage
def _salvage_first_row_udf(s: pd.Series) -> pd.Series:
    def fn(reply: str) -> list:
        data = salvage_json(reply)
        rows = data.get("table_data") or []
        if not rows:
            return [None, None]
        first = rows[0]
        return [first.get("w"), first.get("n")]

    return s.map(fn)


def extract_json_query(df: DataFrame) -> DataFrame:
    """documents → prose-wrapped JSON model reply → salvage parse →
    (doc_id, w = first word, n = n_chars as text)."""
    reply = F.concat(
        F.lit('Sure, here is the extracted table: {"table_data": [{"w": "'),
        F.split(F.col("text"), " ").getItem(0),
        F.lit('", "n": "'),
        F.col("n_chars").cast("string"),
        F.lit('"}], "summary": {"total_rows": 1}} hope that helps'),
    )
    parsed = df.select(
        "doc_id", _salvage_first_row_udf(reply).alias("r")
    )
    return parsed.select(
        "doc_id",
        F.col("r").getItem(0).alias("w"),
        F.col("r").getItem(1).alias("n"),
    )


# -- Grid ------------------------------------------------------------------

GRID_WORDS = 6  # 2 rows (header + one data row) × 3 columns


def _grid_query(
    build_img,
    declared_rot: bool = True,
    stitch: bool = False,
    n_words: int = GRID_WORDS,
):
    """Shared factory for the grid-family round-trip queries: render an
    image from the doc's first ``n_words`` words (``build_img(words)`` —
    ruled, borderless, merged, or a multi-table page), wrap it in a
    doc_id-rotated GRIDv1 payload, run the full extract_grid_table parse,
    and emit the records as 'key=value' pairs joined by '|'.

    ``declared_rot=False`` bakes the same doc_id quarter turn into the
    PIXELS with a rot=0 header — an undeclared scan orientation — and
    the parse must recover it via detect_orientation (auto_orient).

    ``stitch=True``: ``build_img(words)`` returns a LIST of page images
    (a multi-page document); each page parses independently and
    kernels.grid.stitch_tables merges cross-page continuations, adding
    an ``n_tables`` column to the output."""

    @python_stage
    def roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ocr_spark.kernels.grid import stitch_tables

        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")[:n_words]
                rot = int(doc_id) % 4 * 90
                imgs = build_img(words)
                if not stitch:
                    imgs = [imgs]
                payloads = []
                for img in imgs:
                    if declared_rot:
                        payloads.append(encode_grid_payload(img, rot=rot))
                    else:
                        if rot:
                            img = np.rot90(img, k=rot // 90)
                        payloads.append(encode_grid_payload(img, rot=0))
                tabs = [
                    extract_grid_table(
                        p, auto_orient=not declared_rot
                    ).get("table_data", [])
                    for p in payloads
                ]
                if stitch:
                    records, n_tables = stitch_tables(tabs)
                else:
                    records = [rec for tbl in tabs for rec in tbl]
                got = []
                for rec in records:
                    got.extend([f"{k}={v}" for k, v in rec.items()])
                row = (doc_id, "|".join(got))
                out.append((row + (n_tables,)) if stitch else row)
            cols = ["doc_id", "cells_text"] + (
                ["n_tables"] if stitch else []
            )
            yield pd.DataFrame(out, columns=cols)

    fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("cells_text", T.StringType()),
    ]
    if stitch:
        fields.append(T.StructField("n_tables", T.LongType()))
    schema = T.StructType(fields)

    def query(df: DataFrame) -> DataFrame:
        return df.select("doc_id", "text").mapInPandas(roundtrip, schema)

    return query


def _grid_img(words):
    # fixed literal header so record keys never collide even when
    # document words repeat (dict keys must stay distinct)
    return render_grid([["a", "b", "c"], words[:3], words[3:6]])


def _borderless_img(words):
    from ocr_spark.kernels.grid import render_borderless

    return render_borderless([["a", "b", "c"], words[:3], words[3:6]])


def _multi_table_img(words):
    from ocr_spark.kernels.grid import render_borderless, render_page

    ruled = render_grid([["a", "b", "c"], words[:3]])
    borderless = render_borderless([["d", "e", "f"], words[3:6]])
    return render_page([ruled, borderless])


def _merged_cells_img(words):
    # data row 1: words[0] spans columns a+b (merged), words[1] in c;
    # data row 2 unmerged
    cells = [["a", "b", "c"], [words[0], "", words[1]], words[2:5]]
    return render_grid(cells, merges={(1, 0): 2})


#: documents → render first 6 words under a literal a/b/c header as a
#: rotated 3×3 rule-line grid image → full layout parse (morph-open line
#: detect, cell bbox, glyph recognition) → 'key=value' pairs joined by
#: '|'; must round-trip the words exactly.
extract_grid_query = _grid_query(_grid_img)

#: Same round-trip, but the table has NO ruling lines — the reference's
#: vision model reads those too (scripts/ExtractX_OCR.py:325-330).
#: Routed through the SAME extract_grid_table dispatch, proving the
#: rule-line detector yields to whitespace layout analysis (row bands
#: from the horizontal ink projection, column spans from gutter-gap
#: clustering of the vertical projection) end to end.
extract_borderless_query = _grid_query(_borderless_img)

#: A PAGE with two stacked tables — a ruled grid over a borderless one,
#: different headers — combines into one record stream in page order
#: ("if there are multiple tables, combine them logically",
#: scripts/ExtractX_OCR.py:328-330): blank-band table splitting, then
#: per-band ruled-or-borderless dispatch.
extract_multi_table_query = _grid_query(_multi_table_img)

#: A ruled grid whose first data cell SPANS columns a+b (its interior
#: rule segment erased) repeats the value into both columns — the
#: reference's merged-cell contract ("handle merged cells by repeating
#: values appropriately", scripts/ExtractX_OCR.py:327) — while the
#: unmerged second data row round-trips normally.
extract_merged_cells_query = _grid_query(_merged_cells_img)

#: The same ruled-grid round-trip with the quarter turn baked into the
#: PIXELS and a rot=0 header — an undeclared scan orientation, the
#: Tesseract-OSD case. The parse must recover the upright page via
#: detect_orientation (glyph-validity scoring over all four restore
#: rotations) before layout analysis.
extract_autorotate_query = _grid_query(_grid_img, declared_rot=False)


def _stitch_pages(words):
    # page 1 opens table a/b/c, page 2 CONTINUES it (same header
    # repeated — the "continued on next page" print layout), page 3
    # opens a new table d/e/f
    return [
        render_grid([["a", "b", "c"], words[0:3]]),
        render_grid([["a", "b", "c"], words[3:6]]),
        render_grid([["d", "e", "f"], words[6:9]]),
    ]


#: A 3-page document whose first table continues onto page 2: the
#: stitcher must merge pages 1+2 into one logical table and keep page
#: 3 separate (n_tables = 2), emitting the full record stream in page
#: order — the reference's "combine them logically" contract applied
#: across page boundaries (scripts/ExtractX_OCR.py:328-330).
table_page_stitch_query = _grid_query(_stitch_pages, stitch=True, n_words=9)


# -- PDF embedded-image grid extraction ------------------------------------


def _pdf_image_roundtrip_batches(
    it: Iterator[pd.DataFrame],
    header: "list[str]",
    build_kwargs,
) -> Iterator[pd.DataFrame]:
    """Shared body of the embedded-image round-trip queries: grid image
    of [first, last] words under ``header`` → image XObject inside a
    built PDF (codec chosen by ``build_kwargs(doc_id)``) → container
    parse → decode → grid layout parse → key=value cell text."""
    import numpy as np

    from ocr_spark.kernels.grid import read_grid_cells, render_grid
    from ocr_spark.kernels.pdf import build_pdf_images, extract_images

    for pdf in it:
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            words = text.split(" ")
            cells = [header, [words[0], words[-1]]]
            img = (render_grid(cells) * 255).astype(np.uint8)
            data = build_pdf_images([img], **build_kwargs(int(doc_id)))
            got = []
            for _page, _name, arr in extract_images(data):
                mask = (arr > 127).astype(np.uint8)
                rows = read_grid_cells(mask)
                head, body = rows[0], rows[1:]
                for r in body:
                    got.extend(f"{k}={v}" for k, v in zip(head, r))
            out.append((doc_id, "|".join(got)))
        yield pd.DataFrame(out, columns=["doc_id", "cells_text"])


@python_stage
def _pdf_image_roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # DCTDecode page scan — the daat12221.pdf layout
    return _pdf_image_roundtrip_batches(
        it, ["r", "s"], lambda _doc_id: {"jpeg": True, "quality": 90}
    )


@python_stage
def _pdf_ccitt_roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # doc_id%4 walks the fax family: G4, G4 /EncodedByteAlign, G3 pure
    # 1-D (/K 0), G3 mixed 2-D (/K 4, EOL framing) — all four
    # real-world CCITT bit layouts exercised
    def kwargs(doc_id: int):
        m = doc_id % 4
        return {
            "ccitt": True,
            "byte_align": m == 1,
            "ccitt_k": -1 if m < 2 else (0 if m == 2 else 4),
        }

    return _pdf_image_roundtrip_batches(it, ["f", "l"], kwargs)


def pdf_ccitt_image_extract_query(df: DataFrame) -> DataFrame:
    """documents → grid image of [first, last] words → 1-bit
    /CCITTFaxDecode XObject inside a built PDF (the office-scanner /
    fax-gateway layouts, kernels/ccitt.py ITU-T T.6+T.4 codecs;
    doc_id%4 walks G4, G4 byte-aligned, G3 1-D, G3 mixed 2-D) →
    container parse → fax decode → grid layout parse → key=value cell
    text. The scanned-fax sibling of pdf_image_extract
    (scripts/ExtractX_OCR.py:263-265)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("cells_text", T.StringType()),
        ]
    )
    return df.select("doc_id", "text").mapInPandas(_pdf_ccitt_roundtrip, schema)


def pdf_image_extract_query(df: DataFrame) -> DataFrame:
    """documents → grid image of [first, last] words → JPEG-encoded
    /Image XObject inside a built PDF (the scanned-document layout,
    daat12221.pdf's DCTDecode scans) → container parse → image decode
    (kernels/jpeg.py) → threshold → full grid layout parse → key=value
    cell text. Exercises the reference's ACTUAL use-case: content that
    lives in page images, not the text layer
    (scripts/ExtractX_OCR.py:263-265)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("cells_text", T.StringType()),
        ]
    )
    return df.select("doc_id", "text").mapInPandas(_pdf_image_roundtrip, schema)


# -- Null-token clean ------------------------------------------------------


@pandas_udf(T.StringType())
@python_stage
def _clean_udf(s: pd.Series) -> pd.Series:
    from ocr_spark.kernels.align import clean_null_tokens

    return s.map(lambda v: clean_null_tokens(v), na_action="ignore")


def null_clean_query(df: DataFrame) -> DataFrame:
    """Route each doc to a null token or its first word by n_chars % 6,
    then kernel-clean: tokens → NULL, words survive."""
    token = (
        F.when(F.col("n_chars") % 6 == 0, F.lit(""))
        .when(F.col("n_chars") % 6 == 1, F.lit("nan"))
        .when(F.col("n_chars") % 6 == 2, F.lit("NaN"))
        .when(F.col("n_chars") % 6 == 3, F.lit("null"))
        .when(F.col("n_chars") % 6 == 4, F.lit("NULL"))
        .otherwise(F.split(F.col("text"), " ").getItem(0))
    )
    return df.select("doc_id", _clean_udf(token).alias("cleaned"))


# -- Conversation assembly (one sorted Arrow map) --------------------------


@pandas_udf(T.StringType())
@python_stage
def _extract_json_turn_udf(s: pd.Series) -> pd.Series:
    from ocr_spark.kernels.extract import extract_turn

    return s.map(lambda t: extract_turn(t, "json")["extracted_text"])


def conversation_assembly_query(df: DataFrame) -> DataFrame:
    """documents → synthetic conversations → the REAL sorted-Arrow-map
    assembly (pipeline.assemble_conversations, the reference's
    schema_align_union, scripts/ExtractX_OCR.py:549-572) → long spans.

    Each doc becomes one single-row JSON "page" of conversation
    ``doc_id // 8`` (conversation count scales with the corpus; blocks of
    consecutive ids always mix parities); odd doc_ids omit the ``n``
    column, so pages inside a conversation disagree on schema and the
    align kernel must ""-fill — the §1.2 asymmetry, stated directly in
    the DuckDB oracle. Column order is first-seen ([w] then n appended at
    the first even page), row order is turn order; both deterministic, so
    the whole assembly output is SQL-expressible.
    """
    from ocr_spark.pipeline import assemble_conversations

    first_word = F.split(F.col("text"), " ").getItem(0)
    reply = F.concat(
        F.lit('{"table_data": [{"w": "'),
        first_word,
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('", "n": "'), F.col("n_chars").cast("string")),
        ).otherwise(F.lit("")),
        F.lit('"}]}'),
    )
    turns = df.select(
        F.floor(F.col("doc_id") / 8).cast("string").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("json").alias("tool"),
        _extract_json_turn_udf(reply).alias("extracted_text"),
    )
    return assemble_conversations(turns)


# -- Multi-column reading order ---------------------------------------------


def extract_reading_order_query(df: DataFrame) -> DataFrame:
    """documents → render the first 10 words as a TWO-COLUMN prose page
    (left column 3 lines of 2 words, right column 2 lines — ragged
    bottoms), doc_id-rotated GRIDv1 payload → XY-cut reading-order
    linearization (read_columns_text) → lines joined by ' / '. Must
    reproduce the words in original order: a row-major (table-style)
    parse would interleave the columns and fail the oracle."""
    from ocr_spark.kernels.grid import (
        decode_grid_payload,
        read_columns_text,
        render_columns,
        rot90_payload,
    )

    @python_stage
    def roundtrip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = (text.split(" ") + ["x"] * 10)[:10]
                cols = [
                    [
                        " ".join(w[0:2]),
                        " ".join(w[2:4]),
                        " ".join(w[4:6]),
                    ],
                    [" ".join(w[6:8]), " ".join(w[8:10])],
                ]
                rot = int(doc_id) % 4 * 90
                payload = encode_grid_payload(render_columns(cols), rot=rot)
                img, r = decode_grid_payload(payload)
                lines = read_columns_text(rot90_payload(img, r))
                out.append((doc_id, " / ".join(lines)))
            yield pd.DataFrame(out, columns=["doc_id", "reading_text"])

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("reading_text", T.StringType()),
        ]
    )
    return df.select("doc_id", "text").mapInPandas(roundtrip, schema)
