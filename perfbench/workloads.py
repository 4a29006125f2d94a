"""Workload definitions and the seeded input generator.

A workload is a fixed list of inputs plus the way each input is timed:

* ``adhoc_sql_ra`` -- a seeded stream of small queries in the reference
  dialect (``SELECT DISTINCT`` over conjunctive predicates, 2-3-way
  equi-joins, rename self-joins).  Query ``i`` is issued as SQL through
  ``Engine.sql`` when ``i`` is even and as the equivalent RA text through
  ``Engine.ra`` when it is odd; the SQL text is the DuckDB oracle.
* the batch workloads -- registered rows of ``queries()``; one round is
  every row once, in an order the seed shuffles.

The seed drives template variants, literals and pass order only.  The
tables are fixed: ``data/<sf>/`` holds the seed-42 TPC-H-style tables
(star schema plus events, documents and embeddings) that the engine's
own oracle checks and tests use, at scale factors 0.01 and 0.1.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class AdhocQuery:
    qid: str
    family: str
    form: str  # "sql" or "ra"
    sql: str  # also the oracle
    ra: str


# -- adhoc templates -----------------------------------------------------
# Each variant maps a random.Random to (sql, ra); both select the same
# attributes in the same order, so results compare column by column.


def _point_customer(r):
    k = r.randrange(1500)
    return (
        f"SELECT DISTINCT c_name, c_mktsegment, c_acctbal FROM customer WHERE c_custkey = {k}",
        f"\\project_{{c_name, c_mktsegment, c_acctbal}} \\select_{{c_custkey = {k}}} customer;",
    )


def _point_orders(r):
    k = r.randrange(15000)
    return (
        f"SELECT DISTINCT o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = {k}",
        f"\\project_{{o_custkey, o_orderstatus, o_totalprice}} \\select_{{o_orderkey = {k}}} orders;",
    )


def _filter_lineitem(r):
    rf, ls = r.choice("ANR"), r.choice("FO")
    s, q = r.randrange(100), r.randrange(10, 45)
    cond_sql = (f"l_returnflag = '{rf}' AND l_linestatus = '{ls}' "
                f"AND l_suppkey = {s} AND l_quantity > {q}")
    cond_ra = (f"l_returnflag = '{rf}' and l_linestatus = '{ls}' "
               f"and l_suppkey = {s} and l_quantity > {q}")
    return (
        f"SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem WHERE {cond_sql}",
        f"\\project_{{l_orderkey, l_linenumber}} \\select_{{{cond_ra}}} lineitem;",
    )


def _filter_orders(r):
    st, pr, k = r.choice("FOP"), r.choice(PRIORITIES), r.randrange(20, 80)
    return (
        f"SELECT DISTINCT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderstatus = '{st}' AND o_orderpriority = '{pr}' AND o_custkey < {k}",
        f"\\project_{{o_orderkey, o_totalprice}} \\select_{{o_orderstatus = '{st}' "
        f"and o_orderpriority = '{pr}' and o_custkey < {k}}} orders;",
    )


def _join_customer_nation(r):
    rk, seg = r.randrange(5), r.choice(SEGMENTS)
    return (
        "SELECT DISTINCT c.c_name, n.n_name FROM customer c, nation n "
        f"WHERE c.c_nationkey = n.n_nationkey AND n.n_regionkey = {rk} "
        f"AND c.c_mktsegment = '{seg}'",
        f"\\project_{{c.c_name, n.n_name}} \\select_{{n.n_regionkey = {rk} and "
        f"c.c_mktsegment = '{seg}'}} (\\rename_{{c: *}} customer "
        "\\join_{c.c_nationkey = n.n_nationkey} \\rename_{n: *} nation);",
    )


def _join_lineitem_orders_customer(r):
    s, seg = r.randrange(100), r.choice(SEGMENTS)
    return (
        "SELECT DISTINCT o.o_orderkey, c.c_name FROM lineitem l, orders o, customer c "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
        f"AND l.l_suppkey = {s} AND c.c_mktsegment = '{seg}'",
        f"\\project_{{o.o_orderkey, c.c_name}} \\select_{{l.l_suppkey = {s} and "
        f"c.c_mktsegment = '{seg}'}} ((\\rename_{{l: *}} lineitem "
        "\\join_{l.l_orderkey = o.o_orderkey} \\rename_{o: *} orders) "
        "\\join_{o.o_custkey = c.c_custkey} \\rename_{c: *} customer);",
    )


def _self_supplier(r):
    nk = r.randrange(25)
    return (
        "SELECT DISTINCT s1.s_suppkey, s2.s_suppkey FROM supplier s1, supplier s2 "
        "WHERE s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey "
        f"AND s1.s_nationkey = {nk}",
        f"\\project_{{s1.s_suppkey, s2.s_suppkey}} \\select_{{s1.s_nationkey = {nk} "
        "and s1.s_suppkey < s2.s_suppkey} (\\rename_{s1: *} supplier "
        "\\join_{s1.s_nationkey = s2.s_nationkey} \\rename_{s2: *} supplier);",
    )


def _self_customer(r):
    nk, seg = r.randrange(25), r.choice(SEGMENTS)
    return (
        "SELECT DISTINCT c1.c_custkey, c2.c_custkey FROM customer c1, customer c2 "
        "WHERE c1.c_nationkey = c2.c_nationkey AND c1.c_mktsegment = c2.c_mktsegment "
        f"AND c1.c_custkey < c2.c_custkey AND c1.c_nationkey = {nk} "
        f"AND c1.c_mktsegment = '{seg}'",
        f"\\project_{{c1.c_custkey, c2.c_custkey}} \\select_{{c1.c_nationkey = {nk} "
        f"and c1.c_mktsegment = '{seg}' and c1.c_custkey < c2.c_custkey}} "
        "(\\rename_{c1: *} customer \\join_{c1.c_nationkey = c2.c_nationkey and "
        "c1.c_mktsegment = c2.c_mktsegment} \\rename_{c2: *} customer);",
    )


def _distinct_lineitem(r):
    s = r.randrange(100)
    return (
        f"SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem WHERE l_suppkey = {s}",
        f"\\project_{{l_returnflag, l_linestatus}} \\select_{{l_suppkey = {s}}} lineitem;",
    )


def _distinct_orders(r):
    k = r.randrange(1500)
    return (
        f"SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders WHERE o_custkey = {k}",
        f"\\project_{{o_orderpriority, o_orderstatus}} \\select_{{o_custkey = {k}}} orders;",
    )


# Template families and their variants (the table or join choice).
FAMILIES: tuple[tuple[str, tuple], ...] = (
    ("point_select", (_point_customer, _point_orders)),
    ("conjunctive_filter", (_filter_lineitem, _filter_orders)),
    ("equi_join", (_join_customer_nation, _join_lineitem_orders_customer)),
    ("rename_self_join", (_self_supplier, _self_customer)),
    ("distinct_projection", (_distinct_lineitem, _distinct_orders)),
)
VARIANTS = tuple((f, v) for f, vs in FAMILIES for v in vs)
# One block issues every variant twice, once as SQL and once as RA, in a
# seeded order: the template mix of every block is the same whatever the
# seed, so seeds differ in order and literals, not in how much work a
# block asks for.
BLOCK = 2 * len(VARIANTS)


def adhoc_stream(seed: int):
    """Endless, reproducible query stream for ``adhoc_sql_ra``."""
    r = random.Random(seed)
    i = 0
    while True:
        order = list(VARIANTS)
        r.shuffle(order)
        # forms alternate by position; the second half is rotated by one
        # (len(VARIANTS) is even) so every variant comes back in the other form
        for family, variant in order + order[1:] + order[:1]:
            sql, ra = variant(r)
            form = "sql" if i % 2 == 0 else "ra"
            yield AdhocQuery(f"q{i:04d}-{variant.__name__.lstrip('_')}-{form}",
                             family, form, sql, ra)
            i += 1


def adhoc_inputs(seed: int, n: int) -> list[AdhocQuery]:
    stream = adhoc_stream(seed)
    return [next(stream) for _ in range(n)]


# -- batch workloads -----------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # a directory under data/
    sink: str  # "collect" | "parquet"
    rows: tuple[str, ...] = ()
    # rows whose builders check (or build) on-disk fixtures; set-up
    # constructs them once so the digest check is part of set-up
    fixture_rows: tuple[str, ...] = ()
    # adhoc: untimed queries run first so the timed ones meet a warm JVM
    warm_len: int = 0
    # fewest timed rounds of a run (more while --seconds have not passed)
    rounds: int = 2

    @property
    def data_dir(self) -> str:
        return os.path.join(DATA, self.sf)


# The reference's own surface: per-query parse, analysis, planning and job
# launch dominate; no Python workers.
ADHOC = Workload(
    name="adhoc_sql_ra",
    sf="sf0.01",
    sink="collect",
    warm_len=2 * BLOCK,
    # 100 latencies, so 10 lie beyond latency_p90_s
    rounds=5,
)

# Not gated (see README.md).  JVM-only joins, aggregates, windows and time
# operators: Catalyst, AQE and shuffle work with no Python workers.
TPCH = Workload(
    name="tpch_relational",
    sf="sf0.1",
    sink="collect",
    rows=(
        "ref_q2_cnr_join", "ref_q3_col_join_filters", "ref_multikey_join",
        "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
        "tpch_q9_product_type_profit", "tpch_q10_returned_items",
        "tpch_q18_large_volume", "tpch_q21_suppliers_kept_waiting",
        "agg_pricing_summary", "agg_cube", "topk_per_group", "window_running_sum",
        "stream_session_windows", "join_asof",
    ),
)

# Not gated.  Dedup, text and similarity rows; their DataFrame builds
# launch planner jobs.
TEXT = Workload(
    name="text_vector_python",
    sf="sf0.1",
    sink="collect",
    rows=(
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash_fp",
        "dedup_winnowing", "text_fingerprint", "text_bm25_topk",
        "sim_cosine_topk", "sim_ivf_int8_topk", "sim_ann_topk",
        "sim_hamming_topk", "pipeline_training_data",
    ),
)

# WARC and media decoders in sources feed Python workers, and every result
# goes through sinks.write_parquet: the only write path.
CRAWL = Workload(
    name="crawl_ingest_write",
    sf="sf0.1",
    sink="parquet",
    rows=(
        "src_warc_gz_scan", "src_warc_cdx_fetch", "src_warc_revisit_dedup",
        "src_warc_request_log", "src_warc_charset_decode",
        "text_html_extract", "text_robots_filter", "pipeline_crawl_admission",
        "mm_png16_stats", "mm_flac_seektable",
    ),
    fixture_rows=(
        "src_warc_gz_scan", "src_warc_cdx_fetch", "src_warc_revisit_dedup",
        "src_warc_request_log", "src_warc_charset_decode",
    ),
)

WORKLOADS = {w.name: w for w in (ADHOC, TPCH, TEXT, CRAWL)}


def pass_order(workload: Workload, seed: int) -> list[str]:
    """Row order of a round: a seeded shuffle of the fixed list."""
    order = list(workload.rows)
    random.Random(f"{workload.name}:{seed}").shuffle(order)
    return order
