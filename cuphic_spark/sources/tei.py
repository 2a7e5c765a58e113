"""Golden corpus source: the reference's 12 TEI files as a `pages`
DataFrame (url = "tei://{filename}") — FIXTURES.md §2."""

from __future__ import annotations

import datetime
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: The one copy of the corpus location; everything that reads the TEI
#: files imports it (tests and oracles included).
TEI_DIR = pathlib.Path("/root/reference/resources/examples/tei")
TEI_FILES = 12

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def tei_files() -> list[pathlib.Path]:
    """The corpus files under ``TEI_DIR``, sorted. Raises when the
    directory is missing or does not hold exactly ``TEI_FILES``
    ``*.xml`` files, so a missing or partial corpus fails loudly
    instead of yielding fewer (or zero) pages."""
    if not TEI_DIR.is_dir():
        raise FileNotFoundError(
            f"TEI corpus directory {TEI_DIR} does not exist; the "
            f"{TEI_FILES} reference TEI files must be placed there")
    paths = sorted(TEI_DIR.glob("*.xml"))
    if len(paths) != TEI_FILES:
        raise ValueError(
            f"TEI corpus directory {TEI_DIR} holds {len(paths)} *.xml "
            f"files, expected exactly {TEI_FILES}")
    return paths


def tei_pages(spark: SparkSession,
              goldens_dir: str | pathlib.Path | None = None) -> DataFrame:
    """Load the TEI corpus in the pages shape. If ``goldens_dir`` is
    given, the `text` column carries the committed golden extraction
    (byte-identity target); else empty string.

    A partial corpus raises (``tei_files``). A MISSING directory still
    loads as zero pages: five tests that read this frame only for its
    shape pass on the empty frame today, and ROADMAP Open item 0 makes
    this raise too once the corpus is vendored into the repo."""
    rows = []
    ts = datetime.datetime(2024, 1, 1)
    paths = tei_files() if TEI_DIR.exists() else []
    for i, path in enumerate(paths):
        golden = ""
        if goldens_dir is not None:
            gp = pathlib.Path(goldens_dir) / "text" / (path.stem + ".txt")
            golden = gp.read_text(encoding="utf-8")
        rows.append((f"tei://{path.name}",
                     ts + datetime.timedelta(seconds=i),
                     path.read_bytes(), golden, "da"))
    return spark.createDataFrame(rows, PAGES_SCHEMA)
