"""The bench's printed one-line JSON must never evict a query the driver
has already seen (round-16 VERDICT gate item: stream_txlog_ingest lost its
round-over-round number when two HEADLINE additions pushed it out of the
1800-char budget). These tests exercise the reporting logic offline — no
Spark session, just bench.build_printed_line, which bench.main prints."""

import json

import bench


def test_prior_reported_is_well_formed():
    assert set(bench.PRIOR_REPORTED) <= set(bench.HEADLINE)
    assert len(set(bench.PRIOR_REPORTED)) == len(bench.PRIOR_REPORTED)
    # the round-16 eviction victim is back
    assert "stream_txlog_ingest" in bench.PRIOR_REPORTED


def test_prior_reported_always_fits_with_pessimistic_timings():
    # every query at a pessimistic 99.99 s (5-char float) — the widest
    # realistic per-entry encoding; all prior-reported names must still fit
    timings = {n: 99.99 for n in bench.HEADLINE}
    line = bench.build_printed_line(timings, 9999.999, 999.999, 0.1)
    reported = json.loads(line)["queries"]
    missing = [n for n in bench.PRIOR_REPORTED if n not in reported]
    assert not missing, missing
    assert len(line) <= bench.PRINT_BUDGET, len(line)
    # and the line parses back whole
    parsed = json.loads(line)
    assert set(bench.PRIOR_REPORTED) <= set(parsed["queries"])
