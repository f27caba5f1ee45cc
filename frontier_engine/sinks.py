"""Output sinks (SURVEY §2.1 S6).

S6 — spreadsheet-style export (/root/reference/deepbnb/exporter.py):
* fixed export column list FEED_EXPORT_FIELDS (settings.py.dist:99-133);
  columns the spider never sets (review_score, notes, response_rate,
  response_time) export as empty strings — the exporter serializes
  missing values as '' (exporter.py:34, default_value='').
* multivalued cells joined with ',' (exporter.py:50-56);
* ``name`` rewritten to a HYPERLINK formula (exporter.py:31-32).
The engine writes CSV (the distributed equivalent — same cells, same
order) or a stdlib-only .xlsx workbook.
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
