"""Printed-line budget for the bench driver contract.

The round driver captures only a bounded tail (~2000 chars observed) of
bench stdout and parses the JSON metric line out of it. Rounds 9 and 10
shipped a line longer than that (the raw ``runs`` series rode along) and
the driver recorded ``"parsed": null`` — no bench numbers at all. These
tests pin the worst-case printed-line length well under the observed
capture so adding headline queries can't silently re-break the parse.
"""

from __future__ import annotations

import json

import bench

# Observed driver tail capture is 2000 chars (BENCH_r01..r10.json all have
# len(tail) <= 2000); keep headroom for a few extra queries per round.
_LINE_BUDGET = 1800


def _worst_case_payload() -> dict:
    # bench's own payload at its widest realistic rendering: every median
    # "999.999" (7 chars) and a 4-digit scale factor, so a new printed
    # field counts against the budget without editing this test.
    return bench._payload({name: 999.999 for name in bench.HEADLINE}, 1000.0)


def test_printed_line_fits_driver_tail_capture():
    line = json.dumps(_worst_case_payload())
    assert len(line) <= _LINE_BUDGET, (
        f"bench JSON line would be {len(line)} chars; the driver only "
        f"captures ~2000 and rounds 9-10 lost their bench numbers this way. "
        f"Move detail to the runs sidecar, not stdout."
    )


def test_runs_not_in_printed_payload():
    # The raw series must never ride the printed line again; the
    # contracted fields must.
    payload = _worst_case_payload()
    assert "runs" not in payload
    assert {"metric", "value", "unit", "queries", "sf"} <= set(payload)
    src = open(bench.__file__).read()
    # The only json.dumps printed must be the compact payload.
    assert 'print(json.dumps(payload))' in src
