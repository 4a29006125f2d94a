"""The seed decides the inputs, and only the inputs."""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads as W  # noqa: E402

LITERAL = re.compile(r"'[^']*'|\b\d+\b")


def test_same_seed_same_inputs():
    assert W.adhoc_inputs(7, 60) == W.adhoc_inputs(7, 60)
    for w in (W.TPCH, W.TEXT, W.CRAWL):
        assert W.pass_order(w, 7) == W.pass_order(w, 7)


def _mix(qs):
    return Counter((q.qid.split("-", 1)[1], q.family) for q in qs)


def test_other_seed_other_literals_same_template_mix():
    a, b = W.adhoc_inputs(1, 2 * W.BLOCK), W.adhoc_inputs(2, 2 * W.BLOCK)
    assert [q.form for q in a] == [q.form for q in b] == ["sql", "ra"] * W.BLOCK
    assert [LITERAL.findall(q.sql) for q in a] != [LITERAL.findall(q.sql) for q in b]
    # every block asks for every variant once as SQL and once as RA
    want = _mix(a[:W.BLOCK])
    assert len(want) == W.BLOCK
    assert all(_mix(q[k:k + W.BLOCK]) == want for q in (a, b) for k in (0, W.BLOCK))
    orders = {tuple(W.pass_order(W.TPCH, s)) for s in range(5)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(W.TPCH.rows) for o in orders)


def test_sql_and_ra_twins_are_well_formed():
    for q in W.adhoc_inputs(3, W.BLOCK):
        assert q.sql.startswith("SELECT DISTINCT") and q.ra.endswith(";")
