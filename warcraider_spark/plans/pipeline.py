"""The WARC → url_resource pipeline (SURVEY §0 dataflow, §3.1 lifecycle).

One lazy DataFrame graph replacing the reference's hardcoded Rust loop
(the reference's src/main.rs:169-515). A pass is ONE map-only Spark job
with three Python crossings per task: the record splitter
(``sources.warc``), decompress+parse, and URLs+RAKE. Plan-construction
discipline (SURVEY §4):

- cheap native predicates (WARC-type, version sentinel, blacklist) run
  BEFORE any Python UDF — Catalyst will not hoist filters above a UDF.
  The blacklist is a literal isin/contains predicate, not a join against
  side tables (those cost a Python job and a broadcast on every pass);
- each pandas UDF is invoked ONCE and projected via its struct fields.
  The decompress+parse UDF is marked nondeterministic so Catalyst cannot
  push the bad-gzip null filter below its projection, which would run the
  crossing a second time for the filter;
- the decompress+parse crossing applies the 2 MB oversize guard itself:
  an oversize record is decoded but parsed as "" (the native regex
  fallback then fills its columns);
- everything else is native.

Assembly-order quirks preserved from main.rs:274-492:
- blacklist checks the REGEX hostname (pre X-Funnelback-AA-Domain
  override), main.rs:245-255;
- domain_name also derives from the regex hostname, not the override
  (main.rs:333-339);
- oversize (>2MB) records still emit a row via the regex-fallback path
  (html = Default → ok=false branch, main.rs:376-381 + 417-465);
- gzip-undecompressable records are DROPPED (main.rs:287-302);
- the ok-path text_content uses the whitespace-DELETION quirk, the
  fallback path collapses to single spaces (main.rs:383-386 vs 425-427).
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from warcraider_spark.functions import extract as X
from warcraider_spark.functions.html import HTML_RESULT_SCHEMA, parse_html_py
from warcraider_spark.functions.rake import rake_keywords_udf
from warcraider_spark.functions.textfn import word_count as _word_count
from warcraider_spark.functions.urls import absolutize_udf, root_domain_udf
from warcraider_spark.schema import URL_RESOURCE_AVRO_JSON, URL_RESOURCE_FIELDS

__all__ = ["url_resource_from_warc_records", "write_url_resource"]

OVERSIZE_BYTES = 2_000_000
# the error condition of format("avro") when spark-avro is not on the classpath
AVRO_CONNECTOR_MISSING = "_LEGACY_ERROR_TEMP_1139"


def _decode_parse_udf() -> Column:
    """(gzip member, Uncompressed-Content-Length) → struct<content_str, html>.

    content_str is the lossy-UTF8 text, None on bad gzip (the row is later
    dropped) — main.rs:287-303 semantics including String::from_utf8_lossy.
    html is ``parse_html_py`` of the HTTP body, or of "" when the record is
    oversize by either its declared or its decoded length."""
    from warcraider_spark.dist import ensure_package_on_executors
    ensure_package_on_executors()
    from pyspark.sql.functions import pandas_udf

    schema = StructType(
        [StructField("content_str", StringType()), StructField("html", HTML_RESULT_SCHEMA)]
    )

    def one(blob: bytes | None, size_bytes: int) -> dict:
        try:
            text = gzip.decompress(blob).decode("utf-8", errors="replace")
        except (TypeError, OSError, EOFError, zlib.error):  # null or bad gzip
            return {"content_str": None, "html": None}
        oversize = size_bytes > OVERSIZE_BYTES or len(text) > OVERSIZE_BYTES
        return {"content_str": text, "html": parse_html_py("" if oversize else X.http_body_py(text))}

    @pandas_udf(schema)
    def _decode_parse(blobs: pd.Series, sizes: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([one(b, s) for b, s in zip(blobs, sizes)], columns=schema.names)

    return _decode_parse.asNondeterministic()


def url_resource_from_warc_records(records: DataFrame, metrics: dict | None = None) -> DataFrame:
    """WARC_RECORD_SCHEMA rows → the 18-column url_resource DataFrame.

    Pass ``metrics={}`` to attach ``Observation`` points mirroring the
    reference's per-batch counters (records in, responses kept, blacklist
    survivors, gzip-decodable, parse fallbacks — main.rs logs these as it
    loops): the dict is filled with name → Observation, and each
    ``Observation.get`` yields its counts after any action on the result —
    computed DURING the action as accumulator-style stream aggregates, so
    the accounting costs no extra pass over 100 TB (vs. the .count()-per-
    stage alternative, which re-runs the prefix plan per counter).
    """

    def _observe(df: DataFrame, name: str, *exprs: Column) -> DataFrame:
        if metrics is None:
            return df
        from pyspark.sql import Observation

        metrics[name] = Observation(name)
        return df.observe(metrics[name], *exprs)

    # --- native pre-filters (before any Python) ---------------------------
    records = _observe(records, "input", F.count(F.lit(1)).alias("n_records"))
    base = (
        records.filter((F.col("version") != "0") & (F.element_at("headers", "WARC-Type") == F.lit("response")))
        .withColumn("url", F.coalesce(F.element_at("headers", "WARC-Target-URI"), F.lit("")))
        .withColumn("regex_hostname", X.hostname_from_url("url"))
        .withColumn(
            "size_bytes",
            F.coalesce(F.element_at("headers", "Uncompressed-Content-Length").try_cast("int"), F.lit(0)),
        )
        .withColumn("source", F.element_at(F.split("warc_file", "/"), -1))
    )
    base = _observe(base, "responses", F.count(F.lit(1)).alias("n_responses"))
    filtered = base.filter(~X.on_blacklist(F.col("regex_hostname"), F.col("url")))
    filtered = _observe(filtered, "post_blacklist", F.count(F.lit(1)).alias("n_kept"))

    # --- UDF crossing: gzip decompress + HTML parse (bad gzip dropped) ----
    decode_parse = _decode_parse_udf()
    decoded = (
        filtered.withColumn("_decoded", decode_parse(F.col("content"), F.col("size_bytes")))
        .filter(F.col("_decoded.content_str").isNotNull())
        .select("*", "_decoded.*")
        .drop("content", "_decoded")
    )
    decoded = _observe(decoded, "decompressed", F.count(F.lit(1)).alias("n_ok_gzip"))

    # --- native HTTP split + header map + scalars -------------------------
    parsed = (
        decoded.withColumn("http_headers", X.parse_http_headers(X.http_header_block(F.col("content_str"))))
        .withColumn("raw_html", X.http_body(F.col("content_str")))
        .withColumn("load_time", X.load_time(F.col("http_headers")))
        .withColumn("hostname", X.hostname_with_override(F.col("http_headers"), F.col("regex_hostname")))
        .withColumn("google_analytics", X.ga_ids("raw_html"))
        .withColumn("google_analytics_config", X.ga_config("raw_html"))
        # the same guard the crossing applied, for the observation below;
        # shaped's explicit select discards it again
        .withColumn(
            "_oversize",
            (F.col("size_bytes") > OVERSIZE_BYTES) | (F.length("content_str") > OVERSIZE_BYTES),
        )
        .drop("content_str")
    )

    ok = F.col("html.ok")
    # ok path: joined text chunks with whitespace-run DELETION quirk;
    # fallback path: regex body text with single-space collapse
    text_content = F.when(
        ok, X.whitespace_normalize_delete(F.array_join("html.text", " "))
    ).otherwise(X.body_text_fallback("raw_html"))
    title = F.when(ok, F.col("html.title")).otherwise(X.title_fallback("raw_html"))
    raw_links = F.when(ok, F.col("html.links")).otherwise(X.links_fallback("raw_html"))
    raw_resources = F.when(ok, F.col("html.resource_urls")).otherwise(X.resources_fallback("raw_html"))

    parsed = _observe(
        parsed,
        "parsed",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~ok).cast("long")).alias("n_parse_fallback"),
        F.sum(F.col("_oversize").cast("long")).alias("n_oversize"),
    )
    shaped = parsed.select(
        "url",
        "hostname",
        "regex_hostname",
        "size_bytes",
        "load_time",
        F.col("http_headers").alias("headers"),
        "google_analytics",
        "google_analytics_config",
        "source",
        title.alias("title"),
        text_content.alias("text_content"),
        F.array_join("html.headings_text", " ").alias("headings_text"),
        F.col("html.meta_tags").alias("meta_tags"),
        F.col("html.html_errors").alias("html_errors"),
        raw_links.alias("raw_links"),
        raw_resources.alias("raw_resources"),
    )

    # --- UDF crossing: absolutize + root domain + RAKE (one eval node) ----
    absolutize = absolutize_udf()
    root = root_domain_udf()
    rake = rake_keywords_udf()
    final = (
        shaped.withColumn("links", absolutize(F.col("url"), F.col("raw_links")))
        .withColumn("resource_urls", absolutize(F.col("url"), F.col("raw_resources")))
        .withColumn("domain_name", root(F.col("regex_hostname")))
        .withColumn("keywords", rake(F.col("text_content")))
        .withColumn("word_count", _word_count("text_content"))
        .select(*URL_RESOURCE_FIELDS)
    )
    return final


def write_url_resource(df: DataFrame, path: str, fmt: str = "parquet") -> str:
    """Persist the output table.

    - ``avro``: exact reference sink (main.rs:189-191, 486-492). Uses the
      spark-avro connector when it is on the classpath; otherwise the
      dependency-free OCF writer in ``sinks.avro_sink`` (same schema, same
      container-file layout, one file per partition) — either way the
      output IS Avro, verified by the JVM avro reader in
      tests/test_avro_sink.py. Only the connector-missing error falls
      back; any other failure of the connector write propagates;
    - ``parquet``: the query-layer layout replacing BigQuery
      (load.bat:5-9): partitioned by source WARC, sorted within partitions
      by domain_name so min/max row-group stats give BigQuery-cluster-like
      pruning on the domain predicate.
    """
    if fmt == "avro":
        try:
            (
                df.write.format("avro")
                .option("avroSchema", URL_RESOURCE_AVRO_JSON)
                .mode("overwrite")
                .save(path)
            )
            return "avro"
        except AnalysisException as exc:
            if exc.getCondition() != AVRO_CONNECTOR_MISSING:
                raise
        from warcraider_spark.sinks.avro_sink import write_avro_distributed

        write_avro_distributed(df, path, URL_RESOURCE_AVRO_JSON)
        return "avro-ocf"
    (
        df.repartition("source")
        .sortWithinPartitions("domain_name")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(path)
    )
    return "parquet"
