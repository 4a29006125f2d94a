#!/usr/bin/env bash
# One-command local gate: tests, oracle correctness, plan audit, bench.
# Mirrors what the round driver checks.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== pytest ==="
python -m pytest tests/ -q

echo "=== fuzz soak (bounded) ==="
# every decoder and fuzz wrapper under 20k seeded mutations plus the
# gzip-seam, digest-flip and CDX-extent passes; exits 1 on any crash,
# silent digest accept or short extent row
python tools/fuzz_soak.py 20000 0x5EED

echo "=== oracle fragility lint ==="
# static scan for version-fragile oracle constructs (INTERVAL
# arithmetic, rounded double division, exp, nondeterminism) — the
# driver's DuckDB version cannot be pinned here, so new uses must be
# restated exactly or reviewed into the allowlist
python tools/oracle_fragility.py

echo "=== oracle gate (sf0.01) ==="
python tools/check_oracle.py /root/testdata/sf0.01

echo "=== driver fetch-model audit (sf0.01) ==="
# the r8-inferred driver comparator: Spark .toPandas() vs DuckDB .df()
# — catches representation divergence (HUGEINT→float64 etc.) that
# value-equal fetchall comparison cannot see
python tools/fetch_path_audit.py /root/testdata/sf0.01

echo "=== plan audit ==="
python tools/plan_audit.py

echo "=== oracle gate (sf0.1 — 10x driver scale) ==="
# promoted from a one-off to a standing gate (VERDICT r9 #8): the r9
# sf0.1 sweep caught a REAL scale-dependent bug sf0.01 could not
# (sim_hybrid_rrf float-sum tie instability — mass ties only appear at
# scale). Skippable for quick mid-round iterations with
# SKIP_SF01_SWEEP=1; the pre-snapshot gate run must include it.
if [[ "${SKIP_SF01_SWEEP:-0}" != "1" ]]; then
  python tools/check_oracle.py /root/testdata/sf0.1
fi

echo "=== bench (sf0.1) + trend gate ==="
# n-of-3 confirm: a regression must survive the per-query min across up
# to three isolated runs before the gate fails — absorbs CPU-contention
# noise without letting real regressions through
python tools/bench_trend.py --run --confirm 3
