"""File/directory sources — the reference's input-discovery face.

The reference browses a directory interactively and dispatches files by
extension (scripts/ExtractX_OCR.py:60-116, :514-527). The engine's
equivalent is declarative: Spark's ``binaryFile`` source lists a
directory tree and yields one row per file with its bytes —
``(path, modificationTime, length, content)`` — with glob filtering and
recursive lookup handled by the data source itself (predicate pushdown
on path; files never touch the driver). Extension routing is then an
ordinary column expression, and payload parsing (e.g. the multimodal
IMG1 header) runs in the usual Arrow-batched operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.worker import python_stage

#: The reference's extension whitelist (scripts/ExtractX_OCR.py:72,514-527).
PDF_EXTS = (".pdf",)
IMAGE_EXTS = (".png", ".jpg", ".jpeg")


def binary_dir_source(
    spark: SparkSession,
    input_dir: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """One row per file under ``input_dir``: (path, mod_time, length,
    content binary). ``glob`` filters filenames at the SOURCE (pushed into
    the file listing, not a post-scan filter)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(input_dir)
    return df.select(
        "path",
        F.col("modificationTime").alias("mod_time"),
        "length",
        "content",
    )


def route_by_extension(files: DataFrame, path_col: str = "path") -> DataFrame:
    """Case-insensitive extension dispatch (reference
    scripts/ExtractX_OCR.py:514-527): pdf | image | unsupported; the
    unsupported rows are KEPT with their route so callers decide whether
    to drop (the reference skips them with a message)."""
    lower = F.lower(F.col(path_col))
    route = F.when(
        lower.endswith(PDF_EXTS[0]), F.lit("pdf")
    )
    for ext in IMAGE_EXTS:
        route = route.when(lower.endswith(ext), F.lit("image"))
    return files.withColumn("route", route.otherwise(F.lit("unsupported")))


def listed_payloads(
    spark: SparkSession, input_dir: str, glob: str | None = None
) -> DataFrame:
    """The composed reference front door: directory listing → extension
    routing → supported files only, payload bytes ready for the
    multimodal/extraction operators."""
    return route_by_extension(binary_dir_source(spark, input_dir, glob)).filter(
        F.col("route") != "unsupported"
    )


#: Number of WARC files the warc_roundtrip operator shards a corpus into.
#: Fixed — operator contract (the oracle replays doc_id % WARC_SHARDS).
WARC_SHARDS = 32

#: URI prefix for corpus documents inside generated WARC files.
WARC_URI_PREFIX = "http://corpus.example.com/doc/"


def warc_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int = WARC_SHARDS,
) -> DataFrame:
    """WARC (ISO 28500 / Common Crawl) source round-trip: shard the
    corpus into ``shards`` WARC files (``doc_id % shards``), write each
    as a real multi-record WARC — warcinfo + one HTTP-response record
    per document, every record its own gzip member, the Common Crawl
    layout — then PARSE the files back with the kernel reader and emit
    one row per response record with everything recovered from the
    container itself: the doc id from the WARC-Target-URI, the HTTP
    status, the Content-Length header, and the response body.

    This is the ingestion front door of a web-scale corpus: at 100 TB
    the parallel axis is WARC files (Common Crawl ships ~90k files per
    crawl), each file parsed independently inside one Arrow-batched
    grouped-map stage — one exchange on the shard key, no further
    shuffle, text never leaves the stage except as result rows.

    kernels/warc.py is spec-derived (stdlib gzip/zlib only); a
    truncated or malformed file contributes only its complete records
    (skip-and-continue).
    """
    import pandas as pd

    from ocr_spark.kernels import warc as W

    @python_stage
    def assemble_and_parse(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        # A WARC response body cannot represent NULL — skip NULL-text
        # rows (they contribute no record) instead of str(None) writing
        # the literal 'None', and instead of raising: one bad row must
        # never fail the job (the same skip-and-continue contract the
        # WARC reader itself honors).
        pdf = pdf[pdf[text_col].notna()]
        recs = [
            (int(i), WARC_URI_PREFIX + str(int(i)), str(t).encode("utf-8"))
            for i, t in zip(pdf[id_col], pdf[text_col])
        ]
        data = W.build_warc(recs, compress=True)
        parsed = W.parse_warc(data)
        resp = [r for r in parsed if r.type == "response"]
        rows = []
        for r in resp:
            uri = r.uri or ""
            try:
                did = int(uri.rsplit("/", 1)[-1])
            except ValueError:
                continue
            rows.append(
                (
                    did,
                    uri,
                    int(r.http_status or 0),
                    int(r.http_headers.get("content-length", "0")),
                    r.body.decode("utf-8", errors="replace"),
                    len(resp),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "doc_id", "url", "http_status", "content_length",
                "body", "n_in_file",
            ],
        )

    shard = (F.col(id_col) % shards).alias("__warc")
    return (
        df.select(F.col(id_col), F.col(text_col), shard)
        .groupBy("__warc")
        .applyInPandas(
            assemble_and_parse,
            schema=(
                "doc_id long, url string, http_status int,"
                " content_length long, body string, n_in_file long"
            ),
        )
    )


#: jsonl_roundtrip shard count — fixed operator contract.
JSONL_SHARDS = 32


def jsonl_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    shards: int = JSONL_SHARDS,
) -> DataFrame:
    """gzip-sharded JSONL round-trip — the standard training-data
    interchange (one JSON object per line, ``.jsonl.gz`` shards, the
    layout of The Pile / RedPajama / Dolma releases): shard the corpus
    by ``doc_id % shards``, serialize each shard to a real gzip member
    (``mtime=0`` so bytes are deterministic), then decompress and
    re-parse it, emitting one row per recovered line with the doc id,
    shard, line index, per-shard line count, and every payload field
    recovered FROM THE CONTAINER — so any encode/decode defect
    (escaping, unicode, field order) surfaces as an oracle mismatch.

    Scale shape: one exchange on the shard key into an Arrow-batched
    grouped-map stage that writes AND parses in-stage; at 100 TB the
    parallel axis is shards (real exports use tens of thousands), text
    never leaves the stage except as result rows. A malformed line
    skips and parsing continues (the WARC reader's tolerance contract).
    """
    import gzip
    import io
    import json

    import pandas as pd

    @python_stage
    def write_and_parse(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        # NULL payload fields ride through as JSON null (str() would
        # turn None into the literal 'None'); the read-back keeps them
        # as NULL result cells — a true round-trip.
        lines = [
            json.dumps(
                {
                    "id": int(i),
                    "lang": None if pd.isna(lg) else str(lg),
                    "source": None if pd.isna(sc) else str(sc),
                    "text": None if pd.isna(tx) else str(tx),
                },
                sort_keys=True,
                ensure_ascii=False,
            )
            for i, lg, sc, tx in zip(
                pdf[id_col], pdf[lang_col], pdf[source_col], pdf[text_col]
            )
        ]
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(("\n".join(lines) + "\n").encode("utf-8"))
        data = buf.getvalue()
        rows = []
        with gzip.GzipFile(fileobj=io.BytesIO(data)) as gz:
            decoded = gz.read().decode("utf-8").splitlines()
        for li, line in enumerate(decoded):
            if not line:
                continue
            try:
                o = json.loads(line)
            except ValueError:
                continue  # skip-and-continue on a malformed line
            rows.append(
                (
                    int(o["id"]),
                    li,
                    len(decoded),
                    o["lang"] if o["lang"] is None else str(o["lang"]),
                    o["source"] if o["source"] is None else str(o["source"]),
                    o["text"] if o["text"] is None else str(o["text"]),
                )
            )
        out = pd.DataFrame(
            rows,
            columns=[
                "doc_id", "line_idx", "n_in_shard", "lang", "source", "text",
            ],
        )
        out["shard"] = (out["doc_id"] % shards).astype("int64")
        return out[
            ["doc_id", "shard", "line_idx", "n_in_shard",
             "lang", "source", "text"]
        ]

    shard = (F.col(id_col) % shards).alias("__jl")
    return (
        df.select(
            F.col(id_col), F.col(text_col), F.col(lang_col),
            F.col(source_col), shard,
        )
        .groupBy("__jl")
        .applyInPandas(
            write_and_parse,
            schema=(
                "doc_id long, shard long, line_idx long, n_in_shard long,"
                " lang string, source string, text string"
            ),
        )
    )


#: orc_roundtrip / arrow_ipc_roundtrip shard count — fixed operator
#: contract (the oracles replay doc_id % 32).
ORC_SHARDS = 32
ARROW_IPC_SHARDS = 32


def _columnar_roundtrip(
    df: DataFrame,
    codec,
    id_col: str,
    text_col: str,
    lang_col: str,
    source_col: str,
    shards: int,
) -> DataFrame:
    """Shared scaffolding for the in-memory columnar round-trips
    (ORC, Arrow IPC): shard the corpus by ``doc_id % shards``, hand
    each id-sorted shard to ``codec`` — a function serializing a
    pyarrow Table to its container format and parsing it straight back
    — and emit one row per recovered record with the shard, read-back
    position, per-shard count, and every payload field recovered FROM
    THE CONTAINER, so a string-encoding or column-order defect in
    either format surfaces as an oracle mismatch. One copy of the
    shard/row_idx/NULL-preservation bookkeeping, one place to fix it.

    Scale shape: one exchange on the shard key into an Arrow-batched
    grouped-map stage that writes AND reads in-stage; the parallel axis
    is shards and text never leaves the stage except as result rows."""

    @python_stage
    def write_and_read(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pyarrow as pa

        pdf = pdf.sort_values(id_col)
        # NO str() coercion on the payload columns: pa.array over the
        # raw pandas values preserves NULLs as container nulls
        # (str(None) would silently write the literal string 'None').
        table = pa.table(
            {
                "id": pa.array([int(x) for x in pdf[id_col]], pa.int64()),
                "lang": pa.array(pdf[lang_col], pa.string()),
                "source": pa.array(pdf[source_col], pa.string()),
                "text": pa.array(pdf[text_col], pa.string()),
            }
        )
        back = codec(table)
        out = back.to_pandas().rename(columns={"id": "doc_id"})
        out["shard"] = (out["doc_id"] % shards).astype("int64")
        out["row_idx"] = range(len(out))
        out["n_in_shard"] = len(out)
        return out[
            ["doc_id", "shard", "row_idx", "n_in_shard",
             "lang", "source", "text"]
        ].astype({"row_idx": "int64", "n_in_shard": "int64"})

    shard = (F.col(id_col) % shards).alias("__cs")
    return (
        df.select(
            F.col(id_col), F.col(text_col), F.col(lang_col),
            F.col(source_col), shard,
        )
        .groupBy("__cs")
        .applyInPandas(
            write_and_read,
            schema=(
                "doc_id long, shard long, row_idx long, n_in_shard long,"
                " lang string, source string, text string"
            ),
        )
    )


def orc_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    shards: int = ORC_SHARDS,
) -> DataFrame:
    """ORC-sharded columnar round-trip — the second interchange format
    next to :func:`jsonl_roundtrip` (ORC is what Hive/Trino-era corpus
    exports ship): each shard becomes a REAL in-memory ORC file
    (pyarrow.orc — stripes, column encodings, footer) and is parsed
    straight back. Bookkeeping and scale shape: see
    :func:`_columnar_roundtrip`."""

    def codec(table):
        import io

        from pyarrow import orc

        buf = io.BytesIO()
        orc.write_table(table, buf)
        return orc.ORCFile(io.BytesIO(buf.getvalue())).read()

    return _columnar_roundtrip(
        df, codec, id_col, text_col, lang_col, source_col, shards
    )


def arrow_ipc_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    shards: int = ARROW_IPC_SHARDS,
) -> DataFrame:
    """Arrow IPC (Feather v2) sharded round-trip — the third columnar
    interchange format next to :func:`orc_roundtrip` (Arrow IPC is what
    zero-copy dataset exchange between Spark, Ray, and DataFusion-era
    tools ships): each shard becomes a REAL in-memory Arrow IPC stream
    (schema message + record batches, the wire format of Arrow Flight)
    and is parsed straight back. Bookkeeping and scale shape: see
    :func:`_columnar_roundtrip`.

    Reference parity: the reference emits pandas frames per page
    (/root/reference/scripts/ExtractX_OCR.py:330-346); Arrow IPC is the
    canonical container for shipping those frames between engines."""

    def codec(table):
        import io

        import pyarrow as pa
        import pyarrow.ipc

        buf = io.BytesIO()
        with pa.ipc.new_stream(buf, table.schema) as writer:
            writer.write_table(table)
        with pa.ipc.open_stream(io.BytesIO(buf.getvalue())) as reader:
            return reader.read_all()

    return _columnar_roundtrip(
        df, codec, id_col, text_col, lang_col, source_col, shards
    )


#: zip_roundtrip shard count — fixed operator contract (the oracle
#: replays doc_id % 32).
ZIP_SHARDS = 32


def zip_roundtrip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int = ZIP_SHARDS,
) -> DataFrame:
    """ZIP-archive interchange round-trip — the bulk-upload/download
    container (one ``.txt`` member per document, zero-padded doc-id
    names): shard the corpus by ``doc_id % shards``, write a REAL ZIP
    (central directory, deflate members, DOS timestamps pinned to
    1980-01-01 so bytes are deterministic) with the stdlib writer,
    then reopen it from bytes and emit one row per member recovered
    FROM THE CONTAINER — id re-parsed from the member name, byte size
    from the central-directory header (zipfile also CRC-checks every
    read), text decompressed.  NULL-text documents are skipped on both
    sides: a ZIP member cannot represent NULL distinctly from empty.

    Scale shape: one exchange on the shard key into an Arrow-batched
    grouped-map stage that writes AND parses in-stage (the
    jsonl/WARC/ORC/Arrow-IPC scaffold); the parallel axis is shards.
    """
    import io
    import zipfile

    import pandas as pd

    @python_stage
    def write_and_parse(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for i, tx in zip(pdf[id_col], pdf[text_col]):
                if pd.isna(tx):
                    continue
                info = zipfile.ZipInfo(
                    f"{int(i):012d}.txt", date_time=(1980, 1, 1, 0, 0, 0)
                )
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, str(tx).encode("utf-8"))
        data = buf.getvalue()
        rows = []
        with zipfile.ZipFile(io.BytesIO(data)) as z:
            infos = z.infolist()
            for mi, info in enumerate(infos):
                text = z.read(info).decode("utf-8")
                rows.append(
                    (
                        int(info.filename[:-4]),
                        mi,
                        len(infos),
                        int(info.file_size),
                        text,
                    )
                )
        out = pd.DataFrame(
            rows,
            columns=["doc_id", "member_idx", "n_in_shard", "n_bytes", "text"],
        )
        out["shard"] = (out["doc_id"] % shards).astype("int64")
        return out[
            ["doc_id", "shard", "member_idx", "n_in_shard", "n_bytes", "text"]
        ]

    shard = (F.col(id_col) % shards).alias("__zp")
    return (
        df.select(F.col(id_col), F.col(text_col), shard)
        .groupBy("__zp")
        .applyInPandas(
            write_and_parse,
            schema=(
                "doc_id long, shard long, member_idx long,"
                " n_in_shard long, n_bytes long, text string"
            ),
        )
    )
