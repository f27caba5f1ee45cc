"""M1-M3: ranged-date expansion parity with the reference's four cases
(ExploreSearch.py:96-160) + validation errors (airbnb.py:355-361), also
at the CLI boundary."""

import sys
from datetime import date, timedelta

import pytest

from frontier_engine.dates import expand_date_ranges, parse_range_spec, split_spec, validate_dates


def test_split_spec():
    assert split_spec("2023-10-15+5-2") == ("2023-10-15", "+5-2")
    assert split_spec("2023-10-15") == ("2023-10-15", None)


def test_parse_range_spec_plusminus():
    s, e = parse_range_spec("2023-10-15", "+-3")
    assert (str(s), str(e)) == ("2023-10-12", "2023-10-18")


def test_parse_range_spec_post_pre():
    # '+5-2' = plus five days, minus two days (README range semantics)
    s, e = parse_range_spec("2023-10-15", "+5-2")
    assert (str(s), str(e)) == ("2023-10-13", "2023-10-20")


def test_validate_dates_raises():
    today = date(2026, 8, 16)
    with pytest.raises(ValueError, match="Checkin cannot be in past"):
        validate_dates("2026-08-15", "2026-09-01", today)
    with pytest.raises(ValueError, match="Checkout must be tomorrow or later"):
        validate_dates("2026-08-16", "2026-08-16", today)


class _SparkReached(Exception):
    pass


def test_cli_validates_stay_dates_before_spark(monkeypatch, capsys):
    """run_crawl_cli rejects a past check-in (range spec stripped first)
    through argparse before any Spark session starts; a future pair
    passes the check and goes on to start Spark."""
    import run_crawl_cli
    from frontier_engine import session

    def no_spark(*a, **k):
        raise _SparkReached

    monkeypatch.setattr(session, "get_spark", no_spark)
    today = date.today()

    def run(checkin, checkout):
        monkeypatch.setattr(sys, "argv", [
            "run_crawl_cli.py", "--pages", "p", "--seeds", "s",
            "--checkin", checkin, "--checkout", checkout,
        ])
        run_crawl_cli.main()

    past = f"{today - timedelta(days=1)}+2-1"
    with pytest.raises(SystemExit):
        run(past, str(today + timedelta(days=7)))
    assert "Checkin cannot be in past" in capsys.readouterr().err
    with pytest.raises(_SparkReached):
        run(f"{today + timedelta(days=1)}+1-1", f"{today + timedelta(days=8)}+-2")


def test_expand_cartesian(spark):
    combos = expand_date_ranges(spark, "2026-09-01+1-1", "2026-09-29+-1").collect()
    # 3 checkins × 3 checkouts
    assert len(combos) == 9
    cis = {r.checkin for r in combos}
    assert cis == {"2026-08-31", "2026-09-01", "2026-09-02"}


def test_expand_fixed_dates(spark):
    combos = expand_date_ranges(spark, "2026-09-01", "2026-09-29").collect()
    assert [(r.checkin, r.checkout) for r in combos] == [("2026-09-01", "2026-09-29")]
