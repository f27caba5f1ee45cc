"""F1-F7 + D2 quirk parity (SURVEY §2.3; pipelines.py:62-109,187-201)."""

import pandas as pd

from frontier_engine.config import EngineConfig
from frontier_engine.pipeline import apply_pipeline, ascii_repr
from frontier_engine.sinks import FEED_EXPORT_FIELDS, export_frame


def _listings(spark, rows):
    pdf = pd.DataFrame(
        rows,
        columns=["id", "url", "name", "description", "room_and_property_type", "photo_count"],
    )
    return spark.createDataFrame(pdf)


BASE = [
    ("1", "u1", "Nice flat", "Quiet area", "Entire home", 5),
    ("2", "u2", "Camper by the lake", "Scenic", "Camper/RV", 9),       # F2 blacklist
    ("3", "u3", "Tiny room", "Small", "Private room in home", 1),      # F5 photos
    ("4", "u4", "Skip me", "whatever", "Entire home", 4),              # F1 skip list
    ("5", "u5", "Café stay ☕", "près du centre", "Entire home", 3),    # non-ASCII
    ("5", "u5b", "dup of 5", "dup", "Entire home", 3),                 # D2 duplicate id
]


def test_dedup_blacklist_photos_skiplist(spark):
    cfg = EngineConfig(skip_list=("4",), minimum_photos=2)
    out = apply_pipeline(_listings(spark, BASE), cfg)
    assert sorted(r.id for r in out.collect()) == ["1", "5"]


def test_ascii_repr_quirk():
    # pipelines.py:88 — str(s.encode('ASCII','replace')) is the b'...' repr
    assert ascii_repr("Café ☕") == "b'Caf? ?'"
    assert ascii_repr("plain") == "b'plain'"
    assert ascii_repr(None) is None


def test_cannot_have_matches_bytes_repr(spark):
    # 'Caf?' only exists in the bytes-repr form — the quirk is observable
    cfg = EngineConfig(cannot_have=r"caf\? stay \?", minimum_photos=None, property_type_blacklist=())
    out = apply_pipeline(_listings(spark, BASE), cfg)
    assert "5" not in {r.id for r in out.collect()}


def test_must_have_keeps_only_matching(spark):
    cfg = EngineConfig(must_have="quiet", minimum_photos=None, property_type_blacklist=())
    out = apply_pipeline(_listings(spark, BASE), cfg)
    assert {r.id for r in out.collect()} == {"1"}  # IGNORECASE matches 'Quiet area'


def test_f4_weekly_uses_monthly_threshold_bug(spark):
    # pipelines.py:76 — weekly compared against the MONTHLY threshold
    pdf = pd.DataFrame(
        {
            "id": ["a", "b"],
            "url": ["ua", "ub"],
            "name": ["x", "y"],
            "description": ["d", "d"],
            "room_and_property_type": ["Entire home"] * 2,
            "photo_count": [5, 5],
            "weekly_discount": [15, 25],  # weekly threshold 10 would keep both
        }
    )
    cfg = EngineConfig(
        minimum_weekly_discount=10, minimum_monthly_discount=20,
        minimum_photos=None, property_type_blacklist=(), strict_parity=True,
    )
    out = apply_pipeline(spark.createDataFrame(pdf), cfg)
    assert {r.id for r in out.collect()} == {"b"}  # 15 < 20 (monthly!) drops 'a'


def test_export_frame_cells(spark):
    pdf = pd.DataFrame(
        {
            "id": ["9"],
            "url": ["https://www.airbnb.com/rooms/9"],
            "name": ["My Place"],
            "amenities": [["Wifi", "TV - HDTV"]],
            "photos": [["p1", "p2"]],
            "price_rate": [123],
            "description": [None],
        }
    )
    row = export_frame(spark.createDataFrame(pdf)).collect()[0]
    assert row.name == '=HYPERLINK("https://www.airbnb.com/rooms/9", "My Place")'
    assert row.amenities == "Wifi,TV - HDTV"
    assert row.photos == "p1,p2"
    assert row.description == ""       # None → '' (exporter default_value)
    assert row.review_score == ""      # never-set field exports empty
    assert list(row.asDict().keys()) == FEED_EXPORT_FIELDS


def test_write_xlsx_true_spreadsheet(spark, tmp_path):
    """S6: the .xlsx sink emits a valid OOXML zip — header row, inline
    strings with the CSV-identical cell grid, HYPERLINK name as a formula
    cell (exporter.py:31-32,58-70)."""
    import xml.etree.ElementTree as ET
    import zipfile

    from frontier_engine.sinks import write_xlsx

    pdf = pd.DataFrame(
        {
            "id": ["9"],
            "url": ["https://www.airbnb.com/rooms/9"],
            "name": ["A <quiet> & cozy place"],
            "amenities": [["Wifi", "TV"]],
            "price_rate": [123],
        }
    )
    path = str(tmp_path / "out.xlsx")
    write_xlsx(spark.createDataFrame(pdf), path)
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml", "xl/worksheets/sheet1.xml"} <= names
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    rows = sheet.findall(f"{ns}sheetData/{ns}row")
    assert len(rows) == 2  # header + 1 item
    header = [t.text for t in rows[0].iter(f"{ns}t")]
    assert header == FEED_EXPORT_FIELDS
    cells = rows[1].findall(f"{ns}c")
    # name cell is a FORMULA (hyperlink), first column
    formula = cells[0].find(f"{ns}f").text
    assert formula == 'HYPERLINK("https://www.airbnb.com/rooms/9", "A <quiet> & cozy place")'
    # amenities cell joined with ',' like the CSV grid; XML-escaping survives
    texts = [t.text if t.text else "" for t in rows[1].iter(f"{ns}t")]
    assert "Wifi,TV" in texts
    assert "123" in texts
