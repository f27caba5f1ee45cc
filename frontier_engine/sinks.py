"""Output sinks (SURVEY §2.1 S6/S7, §2.5 J5).

S6 — spreadsheet-style export (/root/reference/deepbnb/exporter.py):
* fixed export column list FEED_EXPORT_FIELDS (settings.py.dist:99-133);
  columns the spider never sets (review_score, notes, response_rate,
  response_time) export as empty strings — the exporter serializes
  missing values as '' (exporter.py:34, default_value='').
* multivalued cells joined with ',' (exporter.py:50-56);
* ``name`` rewritten to a HYPERLINK formula (exporter.py:31-32).
The engine writes CSV (openpyxl xlsx is a driver-side format; CSV is the
distributed equivalent — same cells, same order).

S7 — upsert sink (pipelines.py:112-184): update-if-exists-else-insert on
id, with a ``datetime_scrape`` stamp (pipelines.py:113) and a
``coordinates`` (lon, lat) struct (pipelines.py:138). Expressed as the
MERGE the Icebergish store supports: anti-join existing on id + union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# settings.py.dist:99-133 (33 columns, order preserved)
FEED_EXPORT_FIELDS = [
    "name", "url", "price_rate", "price_rate_type", "total_price",
    "room_and_property_type", "latitude", "longitude",
    "monthly_price_factor", "weekly_price_factor", "room_type",
    "person_capacity", "amenities", "review_count", "review_score",
    "rating_accuracy", "rating_checkin", "rating_cleanliness",
    "rating_communication", "rating_location", "rating_value",
    "star_rating", "satisfaction_guest", "description",
    "neighborhood_overview", "notes", "additional_house_rules",
    "interaction", "access", "transit", "response_rate", "response_time",
    "photos",
]


def export_frame(listings: DataFrame, fields: list[str] | None = None) -> DataFrame:
    """The S6 cell grid as a DataFrame of strings."""
    fields = fields or FEED_EXPORT_FIELDS
    df = listings
    # hyperlink formula (exporter.py:31-32): name or id as the label
    if "name" in fields:
        df = df.withColumn(
            "name",
            F.format_string(
                '=HYPERLINK("https://www.airbnb.com/rooms/%s", "%s")',
                F.col("id"),
                F.coalesce(F.col("name"), F.col("id")),
            ),
        )
    cols = []
    for f in fields:
        if f not in df.columns:
            cols.append(F.lit("").alias(f))  # never-set fields → ''
            continue
        dt = dict(df.dtypes)[f]
        c = F.col(f)
        if dt.startswith("array<string>"):
            c = F.array_join(c, ",")  # exporter.py:50-56
        elif dt.startswith("array<int"):
            c = F.array_join(F.transform(c, lambda x: x.cast("string")), ",")
        cols.append(F.coalesce(c.cast("string"), F.lit("")).alias(f))
    return df.select(*cols)


def write_csv(
    listings: DataFrame, path: str, fields: list[str] | None = None,
    single_file: bool = False,
) -> None:
    """S6 CSV export. Distributed by default; ``single_file=True`` gives
    the reference's one-spreadsheet parity (opt-in — a coalesce(1) funnel
    is a driver bottleneck at corpus scale)."""
    df = export_frame(listings, fields)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").option("header", True).csv(path)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def write_xlsx(
    listings: DataFrame, path: str, fields: list[str] | None = None,
    include_headers_line: bool = True,
) -> None:
    """S6 true-.xlsx export (exporter.py:1-75 `XlsxItemExporter`), written
    with the stdlib only (no openpyxl in this stack): a minimal
    OOXML workbook — one sheet, inline strings, '='-prefixed cells stored
    as formulas (the HYPERLINK name cells, exporter.py:31-32). Cell
    semantics (','-joined arrays, ''-for-missing, header line) come from
    the same export_frame grid as the CSV sink, so the two sinks cannot
    drift. Driver-side file assembly, like the reference's workbook.save —
    an export of final listings is small; corpus-scale dumps use
    write_csv/parquet."""
    import zipfile

    grid = export_frame(listings, fields)
    header = list(grid.columns)
    rows = [[r[c] if r[c] is not None else "" for c in header] for r in grid.collect()]
    if include_headers_line:
        rows = [header] + rows

    def cell_xml(v: str) -> str:
        if v.startswith("="):
            return f"<c><f>{_xml_escape(v[1:])}</f></c>"
        return f"<c t=\"inlineStr\"><is><t xml:space=\"preserve\">{_xml_escape(v)}</t></is></c>"

    sheet_rows = "".join(
        "<row>" + "".join(cell_xml(str(v)) for v in row) + "</row>" for row in rows
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{sheet_rows}</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


# ---------------------------------------------------------------------------
# CDX-style archive index (late r4): sorted SURT-keyed URL index with a
# partition-boundary manifest for pruned point lookups — the Common
# Crawl cc-index shape (CDXJ / columnar index), built on plain parquet
# ---------------------------------------------------------------------------

_SURT_AUTH_RX = r"^[a-z][a-z0-9+.-]*://([^/?#]*)"
_SURT_REST_RX = r"^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)"


def surt_expr(url: Column) -> Column:
    """SURT key (Sort-friendly URI Reordering Transform, the ordering
    key of Common Crawl's CDX index and pywb): scheme dropped, userinfo
    dropped, host lowercased and its dot-components REVERSED and
    comma-joined, an explicit ``:port`` re-appended AFTER the reversed
    host (pywb layout), then ``)`` and the path+query (fragment
    dropped), all lowercased — ``https://sub.Example.com/A/b?q=1`` →
    ``com,example,sub)/a/b?q=1``; ``http://example.com:8080/x`` →
    ``com,example:8080)/x``. Treating host:port as one dot-split token
    or keeping ``#frag`` in the host (ADVICE r4) made such keys sort
    OUTSIDE their domain's contiguous range, defeating the prefix-pruned
    lookup. Reversing the host makes one registrable domain's URLs (and
    one TLD's, one org's) a CONTIGUOUS key range, so range partitioning
    by SURT turns per-domain scans into partition-pruned range scans.
    Pure JVM expressions — usable in the scan projection."""
    auth = F.lower(F.regexp_extract(url, _SURT_AUTH_RX, 1))
    hostport = F.regexp_replace(auth, "^[^@]*@", "")
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    keyed_host = F.when(port == F.lit(""), rev_host).otherwise(
        F.concat(rev_host, F.lit(":"), port)
    )
    rest = F.lower(F.regexp_extract(url, _SURT_REST_RX, 1))
    return F.concat(keyed_host, F.lit(")"), rest)


def cdx_rows(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Project pages to CDX index rows: ``surt`` key plus the capture
    facts a replay/lookup client needs (original url, timestamp, content
    digest, stored length). Columns absent from *pages* are omitted."""
    cols = [surt_expr(F.col(url_col)).alias("surt"), F.col(url_col).alias("url")]
    if "warc_ts" in pages.columns:
        cols.append(F.col("warc_ts").cast("timestamp").alias("ts"))
    if "html" in pages.columns:
        cols.append(F.sha1(F.col("html").cast("binary")).alias("digest"))
        cols.append(F.length(F.col("html").cast("binary")).cast("long").alias("length"))
    return pages.select(*cols)


def write_cdx_index(
    pages: DataFrame, path: str, url_col: str = "url", n_parts: int | None = None
) -> dict:
    """Write a GLOBALLY SORTED CDX index: range-partition by SURT key,
    sort within partitions, write parquet, and record each output
    partition's [min, max] SURT range in a ``_cdx_boundaries.json``
    manifest. A point/prefix lookup then binary-searches the manifest
    and reads ONLY the overlapping part files (`read_cdx_prefix`) — the
    100 TB shape: the index of a 10^10-page archive is itself big data,
    and per-domain queries must not scan it.

    The ranged frame is persisted across the write and the boundary
    aggregation (two jobs) — a recompute between them could re-sample
    RangePartitioner boundaries and desynchronize the manifest from the
    files (same discipline as ``schedule.assign_discovered_seq_counted``).
    Returns the manifest dict. Driver traffic: n_parts boundary rows."""
    import json
    import os

    spark = pages.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    rows = cdx_rows(pages, url_col)
    ranged = (
        rows.repartitionByRange(n_parts, F.col("surt"), F.col("url"))
        .sortWithinPartitions("surt", "url")
        .persist()
    )
    ranged.write.mode("overwrite").parquet(path)
    bounds = {
        int(r["_pid"]): (r["lo"], r["hi"], int(r["n"]))
        for r in ranged.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.min("surt").alias("lo"), F.max("surt").alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    ranged.unpersist()
    # parquet part files are written in partition order, but an EMPTY
    # range partition writes no file at all — so the k-th file belongs
    # to the k-th NON-EMPTY pid, not to pid k. bounds only has non-empty
    # pids (groupBy over rows), so rank-align the two sorted lists.
    files = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    nonempty = sorted(bounds)
    if len(files) != len(nonempty):
        raise RuntimeError(
            f"cdx index file/partition mismatch: {len(files)} files, "
            f"{len(nonempty)} non-empty partitions"
        )
    manifest = {
        "n_parts": n_parts,
        "partitions": [
            {
                "file": files[rank],
                "lo": bounds[pid][0],
                "hi": bounds[pid][1],
                "rows": bounds[pid][2],
            }
            for rank, pid in enumerate(nonempty)
        ],
    }
    with open(os.path.join(path, "_cdx_boundaries.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def read_cdx_prefix(spark, path: str, prefix: str) -> DataFrame:
    """Prefix lookup against a `write_cdx_index` output: binary-search
    the boundary manifest for part files whose [lo, hi] SURT range can
    contain the prefix, read ONLY those files, and filter. A single
    domain's range ("com,example,") typically lives in one or two of
    thousands of files — the manifest turns a full index scan into a
    bounded read (and the parquet min/max stats prune row groups within
    them)."""
    import json
    import os

    with open(os.path.join(path, "_cdx_boundaries.json")) as f:
        manifest = json.load(f)
    # a file overlaps iff some key in [lo, hi] starts with prefix:
    # hi >= prefix (keys with the prefix are all >= prefix) and
    # lo <= prefix OR lo itself starts with the prefix. Sentinel-free
    # on purpose: the old `lo <= prefix + U+FFFF` bound wrongly pruned a
    # file whose lowest matching key continued with an astral-plane
    # character > U+FFFF (ADVICE r4) — possible in URL paths.
    hit_files = [
        os.path.join(path, p["file"])
        for p in manifest["partitions"]
        if p["file"] is not None
        and p["lo"] is not None
        and p["hi"] >= prefix
        and (p["lo"] <= prefix or p["lo"].startswith(prefix))
    ]
    if not hit_files:
        return spark.read.parquet(path).limit(0)
    return spark.read.parquet(*hit_files).where(F.col("surt").startswith(prefix))
