"""The workloads: which operations make up one pass.

Every run executes whole passes, each in its own seeded order, so two
runs of one workload always execute the same multiset of operations.

`cli_files` and `sf01` are sized so that a run, with its three engine
starts and its warm-up pass, costs about a minute at local[4]; they are
the workloads BENCHMARK.json lists. `batch_sf01` and `stream_sf01` are
the long per-family lists (about a minute per pass each) for manual
study; they include d3_minhash_lsh and d6_embed_lsh, which fail the
DuckDB comparison at the commit this benchmark was written against.
"""
import random

# ---- cli_files: octosql-dialect queries over the generated files ------
#
# (key, SQL, output format, describe?, DuckDB twin). The twin reads the
# same files through views named after them (see oracle.cli_views).
# Output formats are spread over the mix.
CLI = [
    ("flagship",
     "SELECT l_returnflag, COUNT(*), AVG(l_quantity) FROM lineitem.csv GROUP BY l_returnflag",
     "live_table", False,
     # octosql averages an Int column to an Int (truncating division)
     "SELECT l_returnflag, COUNT(*), SUM(l_quantity) // COUNT(l_quantity) "
     "FROM lineitem GROUP BY 1"),
    ("segment_groupby",
     "SELECT c.segment, COUNT(*) AS n, SUM(c.balance) AS total "
     "FROM customers.csv c GROUP BY c.segment", "json", False,
     "SELECT segment, COUNT(*) AS n, SUM(balance) AS total FROM customers GROUP BY 1"),
    ("top_orders",
     "SELECT o.order_id, o.amount FROM orders.json o WHERE o.status = 'shipped' "
     "ORDER BY o.amount DESC, o.order_id LIMIT 20", "csv", False,
     "SELECT order_id, amount FROM orders WHERE status = 'shipped' "
     "ORDER BY amount DESC, order_id LIMIT 20"),
    ("nation_join",
     "SELECT c.nation, COUNT(*) AS orders, SUM(o.amount) AS revenue "
     "FROM orders.json o JOIN customers.csv c ON o.customer_id = c.id GROUP BY c.nation",
     "live_table", False,
     "SELECT c.nation, COUNT(*) AS orders, SUM(o.amount) AS revenue "
     "FROM orders o JOIN customers c ON o.customer_id = c.id GROUP BY 1"),
    ("error_lines",
     "SELECT l.number, l.text FROM app.log l WHERE l.text LIKE 'ERROR db%'", "json", False,
     "SELECT number, text FROM app_log WHERE text LIKE 'ERROR db%'"),
    ("hourly_tumble",
     "SELECT window_start, kind, COUNT(*) AS n FROM tumble(source => TABLE events.parquet, "
     "time_field => DESCRIPTOR ts, window_length => INTERVAL 1 HOUR) "
     "GROUP BY window_start, kind", "stream_native", False,
     "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, kind, COUNT(*) AS n "
     "FROM events GROUP BY 1, 2"),
    # a describe's twin names the view whose schema it describes
    ("describe_orders", "SELECT * FROM orders.json", "live_table", True, "orders"),
    ("big_spenders",
     "SELECT COUNT(DISTINCT o.customer_id) AS customers FROM orders.json o "
     "WHERE o.amount > 400.0", "json", False,
     "SELECT COUNT(DISTINCT customer_id) AS customers FROM orders WHERE amount > 400"),
]
CLI_BY_KEY = {c[0]: c for c in CLI}

# ---- registry queries over sf0.1 ----------------------------------------
#
# sf01: batch queries forced through the noop sink and streaming queries
# drained to completion, in one pass. q1_agg is TPC-H Q1 over lineitem,
# graft's entry query; d2_ngram_jaccard is a shuffle-heavy similarity
# self-join behind a doc-frequency cap; st1 and st3 keep windowed and
# dedup state.
SF01 = ["q1_agg", "d2_ngram_jaccard", "st1_stream_tumble", "st3_stream_dedup"]

BATCH_SF01 = [
    "q98_tpch_q21", "q100_tpch_q18", "q115_tpch_q9", "q5_join5", "q116_tpch_q2",
    "q113_union_minmax", "q23_aggs", "q74_basket_pairs", "q52_recursive_cte", "q1_agg",
    "d3_minhash_lsh", "d6_embed_lsh", "d2_ngram_jaccard", "d7_dedup_clusters",
    "d14_dedup_pipeline", "d19_index_probe", "d22_edit_verify", "d26_containment",
    "d10_canonical", "s10_ivfpq",
    "t3_tfidf", "t9_bpe", "t13_dsir", "t28_kneser_ney",
    "p29_cluster_histogram", "p26_hits", "p40_coverage_select", "p15_c4_pipeline",
    "m4_media_decode", "m23_vtt_cues"]
STREAM_SF01 = [
    "st1_stream_tumble", "st2_sql_tumble", "st3_stream_dedup", "st4_stream_session",
    "st5_stream_join", "st6_stream_static", "st7_stream_hop", "st8_stream_left_join",
    "st9_stream_distinct", "st10_stream_topk", "st11_stream_full_join", "st12_stream_cms",
    "st13_stream_asof", "st14_stream_psi", "st15_stream_lsh", "st16_stream_decontam",
    "st17_stream_fingerprint", "st18_stream_quota", "st19_stream_blocklist",
    "st20_stream_union_groupby", "st21_stream_union_join", "st22_stream_union_distinct",
    "st23_stream_frontier_dedup"]

# workload -> (distinct keys of one pass, flagship key, flagship input rows,
# measured seconds budgeted per pass). --seconds / budget = passes. The
# budgets are not the passes' durations: at the 20 s of BENCHMARK.json,
# they give cli_files 2 passes (~12 s measured, 18 operations) and sf01
# 3 passes (~28 s, 15 operations), because sf01's operations are fewer
# and slower and its tail percentile needs the samples.
# flagship_rows_per_s is the flagship's input rows over its median
# latency; the flagship runs twice per pass so a run holds enough of its
# samples. cli_files' flagship is the BASELINE.md group-by through the
# dialect path over the generated lineitem CSV.
LINEITEM_SF01 = 600_000
EVENTS_SF01 = 100_000
WORKLOADS = {
    "cli_files": ([c[0] for c in CLI], "flagship", None, 10.0),
    "sf01": (SF01, "q1_agg", LINEITEM_SF01, 6.7),
    "batch_sf01": (BATCH_SF01, "q1_agg", LINEITEM_SF01, 60.0),
    "stream_sf01": (STREAM_SF01, "st1_stream_tumble", EVENTS_SF01, 45.0),
}
# the workloads BENCHMARK.json lists; each of their runs ends within 180 s
TIME_BOXED = ("cli_files", "sf01")


def _op(key):
    if key in CLI_BY_KEY:
        _, sql, fmt, describe, _ = CLI_BY_KEY[key]
        return {"key": key, "kind": "cli", "sql": sql, "output": fmt, "describe": describe}
    return {"key": key, "kind": "stream" if key.startswith("st") else "batch", "query": key}


def measured_passes(workload, seconds, trace):
    """How many passes `seconds` buys: a fixed count for a given budget,
    so every run of a workload does the same work. A traced run
    alternates untraced and traced passes, starting and ending untraced
    (U T U ...), so the JIT's warming over the run falls on both sides
    of the tracing-overhead comparison."""
    n = max(1, round(seconds / WORKLOADS[workload][3]))
    return max(3, n | 1) if trace else n


def ops(workload):
    """One pass, as harness op specs."""
    keys, flagship, _, _ = WORKLOADS[workload]
    return [_op(k) for k in keys + [flagship]]


def passes(workload, seed, count):
    """`count` passes, each shuffled by its own seeded generator."""
    base = ops(workload)
    out = []
    for p in range(count):
        order = list(base)
        random.Random(f"{seed}/{p}").shuffle(order)
        out.append(order)
    return out
