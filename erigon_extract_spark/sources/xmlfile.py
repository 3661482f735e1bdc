"""XML document source — the feed/archive interchange format (Spark 4's
built-in ``xml`` data source).

Rules this module encodes (mirroring sources/csvfile.py — each one a
100 TB lesson):

- **Explicit schema, never inference.** XML inference is an extra full
  pass over every byte AND type-unstable across shards. The schema is
  the ``documents`` contract, with ``doc_id`` carried as a rowTag
  ATTRIBUTE (the common archive convention) — Spark maps attributes
  through ``attributePrefix``, here the default ``_``.
- **One XML file = one partition — shard the archives.** Measured on
  Spark 4.1: the built-in xml source never splits a single file (with
  either parser, a 1.5 MB file plans 1 partition under a 64 KB
  maxPartitionBytes) — the multiLine-JSON failure mode, NOT CSV's.
  Parallelism comes only from the file count, so the ingest contract is
  many-shard archives; a single 1 TB XML dump would serialize onto one
  task. Pinned in tests/test_xml_source.py so a future Spark making
  this splittable shows up as a test failure to relax.
- **Entities and CDATA are decoded at the source.** ``&amp;``/``&lt;``
  entity references and ``<![CDATA[...]]>`` sections both decode to the
  raw text value, so downstream operators see one canonical string no
  matter which convention the producer used. The committed fixture
  exercises both corners on purpose.
- **PERMISSIVE + quarantine column.** A malformed record becomes a row
  with ``_corrupt`` holding the raw slice — dead-letter it, never kill
  the ingest (FAILFAST is for CI).
- **Per-record tokenization (``useLegacyXMLParser``).** Spark 4.1's
  default optimized stream parser has a whole-file blast radius: one
  mismatched tag mid-file turns the ENTIRE remaining file into a single
  corrupt record (measured: records after the error are silently lost,
  the corrupt slice starts at byte 0). The legacy record tokenizer
  isolates corruption to the one bad record — at 100 TB, one producer
  bug must cost one row, not a 1 GB shard.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# doc_id rides as an attribute on the rowTag; Spark surfaces it under the
# default attributePrefix "_" (so: "_doc_id"). The remaining fields are
# child elements, exactly the documents contract.
#
# The attribute is declared STRING on purpose: Spark 4.1's StaxXmlParser
# quarantines malformed structure and element-type failures through
# FailureSafeParser, but an attribute-type conversion failure
# (convertAttributes -> castTo -> NumberFormatException) is NOT wrapped
# as a BadRecordException and aborts the whole read even in PERMISSIVE
# mode. Reading the attribute as string and try_cast-ing it ourselves
# keeps a single bad attribute from killing a 100 TB ingest — the failed
# row routes to quarantine like every other corruption form.
DOCUMENTS_XML_SCHEMA = T.StructType(
    [
        T.StructField("_doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ]
)


def _finish_contract(df: DataFrame) -> DataFrame:
    """Shared tail of the batch/stream readers: try_cast the string
    attribute to the contract's long ``doc_id`` and route cast failures
    into ``_corrupt`` (see the schema comment — Spark's own PERMISSIVE
    handling does not cover attribute conversions)."""
    cast_ok = F.col("_doc_id").try_cast("long")
    return df.select(
        cast_ok.alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
        F.when(F.col("_corrupt").isNotNull(), F.col("_corrupt"))
        .when(
            F.col("_doc_id").isNotNull() & cast_ok.isNull(),
            F.concat(F.lit("bad doc_id attribute: "), F.col("_doc_id")),
        )
        .when(
            # A <doc> with no doc_id attribute at all parses "cleanly"
            # (null attribute, null _corrupt) — without this branch it
            # would enter the clean contract as a keyless row. The key
            # is the contract's identity column; keyless rows quarantine.
            F.col("_doc_id").isNull(),
            F.lit("missing doc_id attribute"),
        )
        .alias("_corrupt"),
    )


def read_documents_xml(spark: SparkSession, path: str) -> DataFrame:
    """Read a documents XML archive against the explicit contract schema.
    ``doc_id`` arrives as the ``<doc doc_id="...">`` attribute and is
    renamed to its contract name; malformed records surface as
    ``_corrupt`` rows."""
    return _finish_contract(
        spark.read.schema(DOCUMENTS_XML_SCHEMA)
        .option("rowTag", "doc")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("useLegacyXMLParser", "true")  # per-record blast radius
        .format("xml")
        .load(path)
    )


def read_documents_xml_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of :func:`read_documents_xml` — same explicit
    schema and PERMISSIVE quarantine over a directory watched by
    Structured Streaming (the file-drop ingest pattern). Batch/stream
    parity is pinned by an availableNow == batch pytest."""
    return _finish_contract(
        spark.readStream.schema(DOCUMENTS_XML_SCHEMA)
        .option("rowTag", "doc")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("useLegacyXMLParser", "true")  # per-record blast radius
        .format("xml")
        .load(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the quarantine column, corrupt rows) — same
    contract and SPARK-21610 caveat as sources/jsonl.split_quarantine."""
    clean = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = df.filter(F.col("_corrupt").isNotNull())
    return clean, bad


def write_documents_xml(df: DataFrame, path: str) -> None:
    """Write documents back out as a ``<docs><doc>...`` archive — the
    sink half of the round trip (``doc_id`` column becomes the rowTag
    attribute again via the ``_doc_id`` rename)."""
    (
        df.withColumnRenamed("doc_id", "_doc_id")
        .write.format("xml")
        .option("rowTag", "doc")
        .option("rootTag", "docs")
        .mode("overwrite")
        .save(path)
    )


# ---------------------------------------------------------------------------
# Committed sample fixture for the oracle gate: a pure function of its
# literal content. DuckDB has no XML reader, so the oracle reconstructs
# the SAME rows from the generating formula (generate_series) — if the
# Spark reader mis-decoded an entity, a CDATA section, or the attribute,
# the value hash diverges. Every text embeds entity-escaped '&' and '<';
# every 5th row is a CDATA section carrying raw markup instead.
# ---------------------------------------------------------------------------

SAMPLE_PATH = (
    Path(__file__).resolve().parent.parent.parent
    / "fixtures_xml"
    / "documents_sample.xml"
)

_LANGS = ["en", "de", "fr", "es"]


def _sample_text(i: int) -> str:
    if i % 5 == 0:
        return f"raw <b>bold {i}</b> & amp"
    return f"row {i} & less < than {i}"


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;")


def ensure_sample(path: Path = SAMPLE_PATH) -> Path:
    """Write the deterministic XML sample if missing (50 valid records,
    pure function of the literals above; every 5th text is CDATA-wrapped
    raw markup, the rest entity-escape '&' and '<')."""
    if path.exists():
        return path
    recs = []
    for i in range(50):
        text = _sample_text(i)
        body = (
            f"<![CDATA[{text}]]>" if i % 5 == 0 else _xml_escape(text)
        )
        recs.append(
            f'  <doc doc_id="{i}"><text>{body}</text>'
            f"<lang>{_LANGS[i % 4]}</lang><source>src{i % 3}</source>"
            f"<n_chars>{len(text)}</n_chars></doc>"
        )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<docs>\n'
        + "\n".join(recs)
        + "\n</docs>\n"
    )
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(content)
    return path
